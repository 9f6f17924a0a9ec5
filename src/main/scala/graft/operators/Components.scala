package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the transitive
  * closure a real corpus dedup needs. Pairwise near-dup dropping ("drop
  * the higher id of each verified pair") is not transitive grouping:
  * with A~B and B~C but A≁C, the pair form never relates A and C, yet
  * they are one duplicate CLUSTER. Labeling every node with its
  * component representative (the component's MINIMUM id) is the primitive
  * that turns pair evidence into clusters — and because min-reachable-id
  * is a pure function of the graph, the output is deterministic no
  * matter how the iteration schedules or the data partitions.
  *
  * Algorithm: iterated neighbor-min + pointer jumping.
  * Each round (1) lowers every node's label to the minimum over its own
  * and its neighbors' labels (one equi-join + map-side-combined min
  * aggregate), then (2) jumps `lbl := lbl(lbl)` (one self-join), which
  * contracts label chains geometrically — the path graph that takes a
  * plain label-propagation O(diameter) rounds converges in O(log n)
  * here, the same round complexity class as the alternating-star
  * MapReduce CC algorithms (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC '14; public). Per round: two shuffles on
  * node ids + one changed-count scalar to the driver — the count is a
  * filter over the jump output itself (the round-start label rides
  * along), not a third join; no other driver-side graph state, so the
  * operator is bounded by O(log n) keyed shuffles of the (id, label)
  * relation at any scale. Each
  * round's frame is checkpointed eagerly — iterative DataFrames must
  * truncate lineage or the doubled-per-round logical plan (the jump
  * references the frame twice) goes exponential; on a cluster swap
  * `localCheckpoint` for a reliable `checkpoint` dir if executor loss
  * during the iteration must be recoverable.
  */
object Components {

  /** (id, `out`) for every node appearing in `edges`; `out` is the
    * minimum id reachable from `id`. Self-loops and NULL endpoints are
    * dropped. Fails loudly (not silently-partial) if `maxRounds` is hit
    * before the fixpoint.
    *
    * Execution strategy is size-adaptive (the broadcast-join
    * discipline): when the edge list fits the driver
    * (`graft.cc.driverMaxEdges`, default 1M pairs — about 100–200 MB of
    * collected boxed rows on the driver, the same bounded-collect class
    * as a broadcast relation), one
    * union-find pass on the driver replaces the O(log n) iterated
    * shuffle rounds — a verified near-dup edge list is bounded by the
    * corpus's TRUE duplicate rate, so in practice this is the common
    * case even at large corpora; above the bound the distributed
    * pointer-jumping loop runs unchanged. Both paths compute the same
    * pure function (min reachable id), asserted in ComponentsSpec. The
    * edge frame is cached in the operator's scope before the size probe
    * (one `limit(n+1)` collect of the (long, long) pairs): under the
    * bound that collect IS the input to union-find, and above it the
    * distributed loop reads the cached edges instead of running the
    * edge plan a second time. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      out: String = "component", maxRounds: Int = 40): DataFrame =
      graft.Scope.nested { sc =>
    val e0 = sc.cache(edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v")), "cc: edges")
    val maxDriverEdges = edges.sparkSession.conf
      .get("graft.cc.driverMaxEdges", (1L << 20).toString).toLong
    val probe =
      if (maxDriverEdges > 0 && maxDriverEdges < Int.MaxValue)
        Some(e0.limit(maxDriverEdges.toInt + 1).collect())
          .filter(_.length <= maxDriverEdges)
      else None
    probe match {
      case Some(es) => driverComponents(edges.sparkSession,
        es.map(r => (r.getLong(0), r.getLong(1))), out)
      case None => distributedComponents(e0, out, maxRounds)
    }
  }

  /** Driver union-find over a bounded edge array → (id, minimum
    * reachable id) frame. Path-halving find, union by attaching the
    * larger root id under the smaller — the root of every set is its
    * minimum id BY CONSTRUCTION, so the final label needs no second
    * pass. */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
      es: Array[(Long, Long)], out: String): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent(x)
      while (p != x) {
        val gp = parent(p)
        parent(x) = gp // path halving
        x = gp
        p = parent(x)
      }
      x
    }
    es.foreach { case (u, v) =>
      if (!parent.contains(u)) parent(u) = u
      if (!parent.contains(v)) parent(v) = v
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        // smaller id stays root → root == component minimum
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    val rows = parent.keys.toSeq.map(id => (id, find(id)))
    import spark.implicits._
    rows.toDF("id", out)
  }

  private def distributedComponents(e0: DataFrame, out: String,
      maxRounds: Int): DataFrame = {
    // localCheckpoint (not persist): iterative DataFrames must TRUNCATE
    // lineage every round — each round joins the previous round's frame
    // twice (the pointer jump), so an un-truncated logical plan doubles
    // per round and analysis/explain go exponential long before the data
    // does (measured: OOM at ~10 rounds on a 200-node path)
    val sym = graft.Scope.checkpoint(
      e0.union(e0.select(col("v").as("u"), col("u").as("v"))).distinct(),
      "cc: symmetric edges")
    var labels = graft.Scope.checkpoint(sym.select(col("u").as("id"))
      .distinct().withColumn("lbl", col("id")), "cc: labels")
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      // (1) neighbor min: lbl'(u) = min(lbl(u), min_{v in N(u)} lbl(v))
      val nbrMin = sym
        .join(labels.select(col("id").as("v2"), col("lbl").as("vl")),
          col("v") === col("v2"))
        .groupBy(col("u").as("nid")).agg(min(col("vl")).as("nl"))
      // the round-start label rides along as `ol` so convergence
      // detection is a filter+count over the (already materialized)
      // jump output — no third join per round
      val l1 = labels
        .join(nbrMin, col("id") === col("nid"), "left")
        .select(col("id"), col("lbl").as("ol"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
      // (2) pointer jump: lbl''(u) = lbl'(lbl'(u)) — label values are
      // node ids, so the lookup is a self-join; chains halve every round
      val next = graft.Scope.checkpoint(l1.as("x")
        .join(l1.select(col("id").as("jid"), col("lbl").as("jl")).as("y"),
          col("x.lbl") === col("jid"), "left")
        .select(col("x.id").as("id"), col("x.ol").as("ol"),
          coalesce(col("jl"), col("x.lbl")).as("lbl")), s"cc: round $round")
      changed = next.filter(col("lbl") =!= col("ol")).count()
      labels = next.select("id", "lbl")
      round += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds")
    // checkpoint blocks are GC-cleaned and live outside the
    // CacheManager (Dedup-family lifecycle): nothing stays registered
    labels.select(col("id"), col("lbl").as(out))
  }

  /** Cluster every row of `df` by near-dup component: (all columns of
    * `df`) + `out` = the minimum id of the row's component under the
    * pair evidence in `edges` (rows in no pair are their own
    * component). */
  def withComponents(df: DataFrame, idCol: String, edges: DataFrame,
      aCol: String, bCol: String, out: String = "component"): DataFrame = {
    // internal join key renamed away from "id": drop-by-name after a
    // join removes EVERY column with that name, so a df whose idCol is
    // literally "id" would lose its own column too
    val comp = connectedComponents(edges, aCol, bCol, out)
      .withColumnRenamed("id", "__cc_id")
    df.join(comp, df(idCol) === col("__cc_id"), "left")
      .withColumn(out, coalesce(col(out), df(idCol)))
      .drop("__cc_id")
  }
}
