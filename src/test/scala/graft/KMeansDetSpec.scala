package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.KMeansDet
import graft.sources.Ingest

/** Deterministic k-means (operators.KMeansDet): the clustering itself is
  * pinned (quantile init, fixed iters, exact-decimal means), so the specs
  * assert values, not just shapes. Spark-vs-DuckDB bit-parity of the full
  * unrolled computation is pinned by the a7_kmeans gate oracle. */
class KMeansDetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  test("assignExprCols (ArgminDist kernel) == assignExpr (literal HOF " +
    "form) on scalar features, duplicate-centroid ties included") {
    // r16: the scalar fit/label path moved to the reference-object
    // kernel so Lloyd iterations stop recompiling codegen; this pins
    // the two assignment forms cell-for-cell on a grid with exact ties
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0),
      Array(1.0, 1.0), Array(2.0, 0.5))
    val rows = for (i <- 0 until 9; j <- 0 until 9)
      yield Seq((i * 9 + j).toLong, i * 0.25, j * 0.25)
    val df = Ingest.localData(spark, Seq("id", "f1", "f2"), rows)
    val both = df.select(
      KMeansDet.assignExprCols(cents, Seq(col("f1"), col("f2"))).as("a"),
      SpecKMeans.assignExpr(cents, Seq(col("f1"), col("f2"))).as("b"))
      .collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"kernel ${r.getInt(0)} != literal ${r.getInt(1)}"))
  }

  test("separable 1-d clusters, canonical ids ordered by centroid") {
    val df = Ingest.localData(spark, Seq("id", "x"),
      Seq(Seq(1L, 1.0), Seq(2L, 1.1), Seq(3L, 0.9),
        Seq(4L, 100.0), Seq(5L, 101.0), Seq(6L, 99.0)))
    val out = KMeansDet.withCluster(df, Seq("x"), Seq(col("id")), k = 2)
      .groupBy("cluster").agg(avg("x").as("m"), count(lit(1)).as("n"))
      .orderBy("cluster").collect()
    assert(out.map(_.getAs[Int]("cluster")).toSeq == Seq(0, 1))
    assert(math.abs(out(0).getAs[Double]("m") - 1.0) < 0.2)
    assert(math.abs(out(1).getAs[Double]("m") - 100.0) < 1.0)
    assert(out.map(_.getAs[Long]("n")).toSeq == Seq(3, 3))
  }

  test("canonical relabel: ids follow lexicographic centroid order even " +
    "when clusters separate on the second feature") {
    // two clusters split on f2, overlapping on f1 — quantile init along
    // the f1-major lex order starts centroids "crossed", the relabel
    // must still hand out ids in final-centroid lex order
    val rows = (0 until 40).map { i =>
      Seq(i.toLong, (i % 7).toDouble,
        if (i % 2 == 0) (i % 5).toDouble else 50.0 + (i % 5))
    }
    val df = Ingest.localData(spark, Seq("id", "f1", "f2"), rows)
    val cents = KMeansDet
      .withCluster(df, Seq("f1", "f2"), Seq(col("id")), k = 2)
      .groupBy("cluster").agg(avg("f1").as("c1"), avg("f2").as("c2"))
      .orderBy("cluster").collect()
      .map(r => (r.getAs[Double]("c1"), r.getAs[Double]("c2")))
    assert(cents.length == 2)
    // canonical: cluster 0's centroid lexicographically <= cluster 1's
    assert(cents(0)._1 < cents(1)._1 ||
      (cents(0)._1 == cents(1)._1 && cents(0)._2 <= cents(1)._2))
    // and the split actually separated the f2 bands
    assert(math.abs(cents(0)._2 - cents(1)._2) > 20.0)
  }

  test("rows with a null, NaN or Infinity feature get a null cluster " +
    "and are excluded from the fit") {
    // Infinity would pass an isnan-only guard, then vanish from the
    // decimal mean while still counting — and crash the DuckDB oracle's
    // strict decimal cast (advice-class hole closed in r5's review pass)
    val df = Ingest.localData(spark, Seq("id", "x"),
      Seq(Seq[Any](1L, 1.0), Seq[Any](2L, 2.0), Seq[Any](3L, 100.0),
        Seq[Any](4L, 101.0), Seq[Any](6L, Double.NaN),
        Seq[Any](7L, Double.PositiveInfinity),
        Seq[Any](8L, Double.NegativeInfinity)))
      .union(Ingest.localData(spark, Seq("id", "x"),
        Seq(Seq[Any](5L, 0.0))).withColumn("x", lit(null).cast("double")))
    val out = KMeansDet.withCluster(df, Seq("x"), Seq(col("id")), k = 2)
    val byId = out.collect()
      .map(r => r.getLong(0) -> r.isNullAt(out.columns.indexOf("cluster")))
      .toMap
    assert(Seq(5L, 6L, 7L, 8L).forall(byId(_)), byId.toString)
    assert(out.filter(col("cluster").isNotNull).count() == 4)
    // and the means stayed clean (no vanished-infinity bias)
    val cents = KMeansDet.fit(df, Seq("x"), Seq(col("id")), k = 2)
      .centroids.map(_.head).sorted
    assert(math.abs(cents(0) - 1.5) < 0.01 &&
      math.abs(cents(1) - 100.5) < 0.01, cents.toSeq)
  }

  test("fitVec (array path, native ArgminDist kernel) produces the same " +
    "model and labels as fit (column path, codegen argmin)") {
    val rows = (0 until 60).map(i =>
      Seq[Any](i.toLong, math.sin(i.toDouble) * 10, (i % 13).toDouble))
    val df = Ingest.localData(spark, Seq("id", "f1", "f2"), rows)
    val mCol = KMeansDet.fit(df, Seq("f1", "f2"), Seq(col("id")), k = 3)
    val dfArr = df.select(col("id"), array(col("f1"), col("f2")).as("v"))
    val mVec = KMeansDet.fitVec(dfArr, "v", 2, Seq(col("id")), k = 3)
    assert(mCol.centroids.map(_.toSeq).toSeq ==
      mVec.centroids.map(_.toSeq).toSeq)
    assert(mCol.perm.toSeq == mVec.perm.toSeq)
    val lCol = df.withColumn("c", KMeansDet.labelExpr(mCol,
      Seq(col("f1"), col("f2")))).select("id", "c").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lVec = dfArr.withColumn("c", KMeansDet.labelExprVec(mVec,
      col("v"), 2)).select("id", "c").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lCol == lVec)
  }

  test("fitVecMulti (fused Lloyd loop) == fitVec per subspace, " +
    "including rows unusable in one subspace and empty clusters") {
    // r17: pqTopK's m per-subspace fits fused to one aggregate job per
    // round — the fused loop must reproduce every per-subspace model
    // bit-for-bit (same init rows, same decimal means, same relabel)
    val rows = (0 until 50).map { i =>
      val a = Seq(math.sin(i.toDouble) * 10, (i % 13).toDouble)
      // subspace 1 has a few unusable rows (null via NaN) to pin the
      // per-exploded-row usable filter against fitVec's per-fit filter
      val b =
        if (i % 17 == 0) Seq(Double.NaN, 1.0)
        else Seq(math.cos(i.toDouble) * 5, (i % 7).toDouble)
      val c = Seq((i % 3).toDouble * 100, i.toDouble / 10)
      Seq[Any](i.toLong, a, b, c)
    }
    import spark.implicits._
    val df = rows.map(r => (r(0).asInstanceOf[Long],
        r(1).asInstanceOf[Seq[Double]], r(2).asInstanceOf[Seq[Double]],
        r(3).asInstanceOf[Seq[Double]]))
      .toDF("id", "v0", "v1", "v2")
    val cols = Seq("v0", "v1", "v2")
    val fused = KMeansDet.fitVecs(df, cols.map(c => (col(c), 2, 4)),
      Seq(col("id")), iters = 3)
    val single = cols.map(c =>
      KMeansDet.fitVec(df, c, 2, Seq(col("id")), k = 4, iters = 3))
    fused.zip(single).zipWithIndex.foreach { case ((fm, sm), s) =>
      assert(fm.centroids.map(_.toSeq).toSeq ==
        sm.centroids.map(_.toSeq).toSeq, s"subspace $s centroids")
      assert(fm.perm.toSeq == sm.perm.toSeq, s"subspace $s perm")
    }
    // mixed dimensions AND cluster counts in one loop (the pq + IVF
    // cell fusion shape): a 4-dim k=3 column beside the 2-dim k=4 ones
    val wide = df.withColumn("vw",
      concat(col("v0"), col("v2"))) // 4-dim, always usable
    val specs = Seq(("v0", 2, 4), ("vw", 4, 3), ("v1", 2, 4))
    val fusedMixed = KMeansDet.fitVecs(wide,
      specs.map { case (c, dd, kk) => (col(c), dd, kk) }, Seq(col("id")),
      iters = 3)
    val singleMixed = specs.map { case (c, dd, kk) =>
      KMeansDet.fitVec(wide, c, dd, Seq(col("id")), kk, iters = 3) }
    fusedMixed.zip(singleMixed).zipWithIndex.foreach {
      case ((fm, sm), s) =>
        assert(fm.centroids.map(_.toSeq).toSeq ==
          sm.centroids.map(_.toSeq).toSeq, s"spec $s centroids")
        assert(fm.perm.toSeq == sm.perm.toSeq, s"spec $s perm")
    }
  }

  test("k = 1 is legal: every usable row lands in cluster 0 " +
    "(the reference accepts `k-means (1)`)") {
    val df = Ingest.localData(spark, Seq("id", "x"),
      Seq(Seq(1L, 1.0), Seq(2L, 2.0), Seq(3L, 100.0)))
    val out = KMeansDet.withCluster(df, Seq("x"), Seq(col("id")), k = 1)
    assert(out.select("cluster").collect().map(_.getInt(0)).toSeq
      == Seq(0, 0, 0))
    // and the generated oracle SQL for k = 1 must keep its structure:
    // single-centroid init, both iteration centroid CTEs, the final
    // assignment and the labeled output (the old string checks guarded a
    // zero-arm CASE the long-layout generator no longer emits)
    val sql = KMeansDet.oracleSql("t", Seq("id"), Seq("x"), k = 1, iters = 2)
    for (frag <- Seq("range(0, 1)", "__c0 AS", "__c1 AS", "__c2 AS",
        "__aF AS", "__km AS", "// 2 + 1"))
      assert(sql.contains(frag), s"missing $frag in:\n$sql")
  }

  test("fewer rows than k raises") {
    val df = Ingest.localData(spark, Seq("id", "x"),
      Seq(Seq(1L, 1.0), Seq(2L, 2.0)))
    val e = intercept[IllegalArgumentException] {
      KMeansDet.fit(df, Seq("x"), Seq(col("id")), k = 3)
    }
    assert(e.getMessage.contains("at least"))
  }

  test("repeated fits label identically (no RNG anywhere)") {
    val rows = (0 until 60).map(i =>
      Seq(i.toLong, math.sin(i.toDouble) * 10, (i % 13).toDouble))
    val df = Ingest.localData(spark, Seq("id", "f1", "f2"), rows)
    def labels() = KMeansDet
      .withCluster(df, Seq("f1", "f2"), Seq(col("id")), k = 3)
      .select("id", "cluster").collect()
      .map(r => (r.get(0).toString, r.getInt(1))).toSet
    assert(labels() == labels())
  }

  test("labeling plan is a pure projection — no join, no shuffle") {
    val rows = (0 until 30).map(i => Seq(i.toLong, (i % 9).toDouble))
    val df = Ingest.localData(spark, Seq("id", "x"), rows)
    val m = KMeansDet.fit(df, Seq("x"), Seq(col("id")), k = 2)
    // fit collects only k centroid rows; the label pass reuses them as
    // literals — assert the labeled frame's plan has no exchange
    val labeled = KMeansDet.withCluster(df, Seq("x"), Seq(col("id")), 2)
    assert(PlanChecks.shuffles(labeled).isEmpty,
      labeled.queryExecution.executedPlan.toString)
    assert(m.centroids.length == 2)
  }
}
