package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType}

/** Deterministic Lloyd's k-means — engine-portable clustering.
  *
  * The reference's `k-means` statement (Accord.MachineLearning k-means,
  * SURVEY §2 A7) and MLlib's KMeans both produce implementation-specific
  * cluster ids (randomized kmeans|| init), which is why `a7_kmeans` spent
  * three rounds as the one SURVEY operator without a value oracle. This
  * variant is k-means with every source of engine dependence pinned:
  *
  *  - init: the k quantile rows of the feature-lexicographic order
  *    (rank ((2j+1)·n)/(2k) + 1, 1-based, unique tie-break) — no RNG;
  *  - assignment: argmin of squared Euclidean distance, lowest cluster id
  *    wins ties (a fixed CASE chain, not a float-order min);
  *  - update: per-cluster mean via exact DECIMAL(30,6) sums cast back to
  *    double (the same trick as queries.Det — bit-identical in any
  *    engine and any accumulation order); empty clusters keep their
  *    previous centroid;
  *  - a FIXED iteration count (no float-tolerance convergence test);
  *  - output ids canonicalized by lexicographic centroid order.
  *
  * Every step is a deterministic function of the input relation, so
  * `oracleSql` can unroll the identical computation as chained SQL CTEs
  * and a DuckDB run hash-matches Spark bit-for-bit — k-means with a full
  * SQL oracle. Reproducibility across engines/versions is also the
  * production win: MLlib's ids are not stable across Spark upgrades, so
  * any pipeline that joins on cluster id silently reshuffles on upgrade;
  * this one re-derives identically anywhere.
  *
  * Scale: fit is `iters`+1 passes — one range-partitioned ordinal scan
  * (operators.Ordinals — no single-partition stage; its per-partition
  * count job doubles as the row count, so there is no separate count
  * pass) of which only k quantile rows are collected, then per-iteration
  * a codegen'd narrow-map assignment (centroids ride as literals /
  * ArgminDist's reference object) feeding a map-side-combined aggregate
  * that returns k rows to the driver. The labeled output is a PURE
  * PROJECTION — no join, no shuffle — so labeling 100 TB costs one
  * narrow pass.
  */
object KMeansDet {

  private val dec6 = DecimalType(30, 6)

  final case class Model(centroids: Array[Array[Double]], perm: Array[Int])

  /** A feature cell the fit/label passes can use: castable to a FINITE
    * double — NULL, non-numeric strings, NaN and ±Infinity are all
    * unusable. (An Infinity would pass an isnan-only guard, then
    * cast(inf AS DECIMAL) is NULL with ANSI off: the value vanishes
    * from the mean's sum while still counting in count() — a silently
    * biased centroid, and a DuckDB-side cast error in the oracle.) */
  private def usable(f: Column): Column =
    f.isNotNull && !isnan(f) &&
      f =!= lit(Double.PositiveInfinity) && f =!= lit(Double.NegativeInfinity)

  /** Fit on the non-null feature rows of `df`. `tieBreak` must complete
    * the feature columns to a total order (any unique row id). The cast
    * features pack into one array column, as [[assignExprCols]] packs
    * them, and run the one Lloyd loop ([[fitVecs]]). */
  def fit(df: DataFrame, features: Seq[String], tieBreak: Seq[Column],
      k: Int, iters: Int = 10): Model = {
    require(features.nonEmpty, "k-means needs at least one feature column")
    fitVecs(df, Seq((array(features.map(col(_).cast(DoubleType)): _*),
      features.size, k)), tieBreak, iters).head
  }

  /** Canonical cluster-id expression for a fitted model over arbitrary
    * feature expressions: perm[argmin] — one evaluation of the argmin
    * CASE, one array-literal lookup (element_at is 1-based). NULL when
    * any feature is unusable (the guard must test the CAST value: a
    * non-castable string or NaN would otherwise make every distance
    * comparison null, fall through the CASE, and land in cluster k-1).
    */
  def labelExpr(m: Model, feats: Seq[Column]): Column = {
    val remapped = element_at(
      array(m.perm.map(r => lit(r)).toIndexedSeq: _*),
      assignExprCols(m.centroids, feats) + 1)
    when(feats.map(f => !usable(f.cast(DoubleType))).reduce(_ || _),
      lit(null).cast("int"))
      .otherwise(remapped)
  }

  /** Label `df` with canonical cluster ids: one codegen'd projection,
    * NULL for rows with a null feature. */
  def withCluster(df: DataFrame, features: Seq[String],
      tieBreak: Seq[Column], k: Int, iters: Int = 10,
      out: String = "cluster"): DataFrame = {
    val m = fit(df, features, tieBreak, k, iters)
    df.withColumn(out, labelExpr(m, features.map(col)))
  }

  /** Canonically-ordered centroids: element r is the centroid of output
    * cluster r (Model.centroids is in internal fit order; perm maps
    * internal j → canonical rank). */
  def canonicalCentroids(m: Model): Array[Array[Double]] = {
    val out = Array.ofDim[Array[Double]](m.centroids.length)
    m.perm.zipWithIndex.foreach { case (r, j) => out(r) = m.centroids(j) }
    out
  }

  // ---------------------------------------------------- array-vector path

  /** A usable vector row: non-null, exactly `d` elements, all finite. */
  private def usableVec(vec: Column, d: Int): Column =
    vec.isNotNull && size(vec) === d && forall(vec, usable)

  /** Argmin assignment over an ARRAY column — the high-dimension form.
    * Same semantics as [[assignExprCols]] (left-fold squared distance in
    * dim order, first index achieving the min), via the native
    * graft.functions.ArgminDist expression: centroids ride as a codegen
    * reference object, so the generated source is IDENTICAL across
    * Lloyd iterations and Spark's codegen cache compiles the kernel
    * once per fit. (The column form re-generates ~k·d literal-bearing
    * expression nodes per iteration — ~30 s of janino at d = 64 — and
    * an interpreted HOF chain cost ~1 s/iteration in pure lambda
    * overhead.) */
  private def assignExprVec(cents: Array[Array[Double]],
      vec: Column): Column =
    graft.functions.ArgminDist.argmin_dist(vec, cents)

  /** Fit over an array<double> column of fixed dimension `d` (the
    * embedding shape): [[fitVecs]] with one vector. `oracleSql`
    * replicates it given a relation that extracts the `d` elements as
    * columns. Rows that are not `usableVec` are skipped. */
  def fitVec(df: DataFrame, vecCol: String, d: Int, tieBreak: Seq[Column],
      k: Int, iters: Int = 10): Model =
    fitVecs(df, Seq((col(vecCol), d, k)), tieBreak, iters).head

  /** The one Lloyd loop. Each entry of `specs` is (vector expression,
    * its dimension `d`, its `k`) and gets its own model; the entries
    * share one loop over one cached frame. m separate fits would run
    * m·iters tiny aggregate-collect jobs whose ~60–100 ms launch latency
    * dominates at small data (s_ann_pq profiled ~120 jobs, r16); this
    * runs `iters` (guide §2 job-latency floor).
    *
    *  - points: rows explode to (entry, vector); a row is skipped for
    *    an entry whose vector is not `usableVec`;
    *  - init: each entry's k quantile rows of its element-lexicographic
    *    order (rank ((2j+1)·n)/(2k) + 1, ties by `tieBreak`); the
    *    entries' ordinal jobs overlap from a small pool (§2.6);
    *  - round: ONE aggregate groups by (entry, cluster), so every group
    *    sums exactly the rows a one-entry fit's cluster group does, and
    *    exact DECIMAL(30,6) sums are order-free: fusing changes no bit
    *    (KMeansDetSpec). Assignment dispatches on the entry through a
    *    CASE of ArgminDist kernels, so the generated source is the same
    *    every round (one compile per fit); an empty cluster keeps its
    *    centroid;
    *  - relabel: output id = rank of the centroid in lexicographic
    *    order (the original id breaks exact-tie centroids).
    *
    * The round aggregate widens to the largest `d` for every exploded
    * row, so pqTopK keeps its d-dim IVF cell fit OUT of its d/m-dim
    * codebook loop (fusing them measured 5 → 38 s of task time at
    * d = 64, m = 8). */
  def fitVecs(df: DataFrame, specs: Seq[(Column, Int, Int)],
      tieBreak: Seq[Column], iters: Int = 10): Seq[Model] =
      graft.Scope.nested { sc =>
    // k = 1 is legal (the reference's `k-means (1)` reduces the whole
    // frame to one cluster): init picks the single median row, every
    // round computes the global mean, the assignment always picks
    // cluster 0 — no special casing needed beyond allowing it here
    require(iters > 0, s"iters must be > 0, got $iters")
    require(specs.nonEmpty, "k-means needs at least one vector")
    specs.foreach { case (_, d, k) =>
      require(d >= 1, s"need at least one dimension, got $d")
      require(k >= 1, s"k must be >= 1, got $k")
    }
    val m = specs.size
    val dims = specs.map(_._2)
    def el(i: Int) = element_at(col("__vec"), i + 1)
    // filled ONCE before the concurrent init scans (the r15/r16 lesson:
    // a concurrent first fill recomputes the projection per future); the
    // fill also warms every block the loop reads
    val pts = sc.cache(df
      .select(struct(tieBreak: _*).as("__tb"),
        posexplode(array(specs.map { case (v, _, _) =>
          v.cast(ArrayType(DoubleType)) }: _*)))
      .withColumnRenamed("pos", "__s")
      .withColumnRenamed("col", "__vec")
      .filter(dims.zipWithIndex.map { case (d, s) =>
        col("__s") === s && usableVec(col("__vec"), d) }.reduce(_ || _)),
      "kmdet: points")
    // ordinal width follows the FRAME's partitioning, not the shuffle
    // constant: the fit frame is small/projected, and a 32-way range
    // exchange of a 1-partition frame is pure task overhead (r16)
    val parts = pts.rdd.getNumPartitions max 1
    def init(s: Int): Array[Array[Double]] =
      graft.Scope.labeled(s"kmdet: init $s") {
        val k = specs(s)._3
        val order = (0 until dims(s)).map(i => el(i).asc) :+ col("__tb").asc
        val (ordDf, n) = Ordinals.withGlobalOrdinalTotal(
          pts.filter(col("__s") === s), "__rn", order, numPartitions = parts)
        require(n >= k, s"k-means needs at least k=$k rows, got $n")
        val ranks = (0 until k).map(j => ((2L * j + 1) * n) / (2L * k) + 1)
        // k rows collect; the rank order is applied DRIVER-side (an
        // orderBy here planned a range exchange + sampling job per fit)
        val cs = ordDf.filter(col("__rn").isin(ranks: _*))
          .select(col("__rn"), col("__vec")).collect()
          .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
        // the k quantile ranks are distinct for any n >= k, so this only
        // fires on a broken ordinal — but a short centroid array would
        // otherwise fit fewer than k clusters without a word
        require(cs.length == k,
          s"init produced ${cs.length} centroids, expected $k")
        cs
      }
    var cents = inParallel(m)(init)
    // per-cluster exact-decimal means (queries.Det shape: the decimal
    // sum is order-independent, the one decimal→double cast rounds the
    // same everywhere), aggregated to the WIDEST dimension: a shorter
    // entry's extra columns aggregate nulls and are never read
    val aggs = (0 until dims.max).map { i =>
      (sum(el(i).cast(dec6)).cast(DoubleType) / count(el(i))).as(s"__m_$i")
    }
    for (t <- 1 to iters) {
      val assign = (1 until m).foldLeft(
        when(col("__s") === 0, assignExprVec(cents(0), col("__vec")))) {
        (acc, s) => acc.when(col("__s") === s,
          assignExprVec(cents(s), col("__vec")))
      }
      val stats = graft.Scope.labeled(s"kmdet: round $t")(pts
        .groupBy(col("__s"), assign.as("__cl"))
        .agg(aggs.head, aggs.tail: _*)
        .collect())
        .map { r =>
          val s = r.getAs[Int]("__s")
          (s, r.getAs[Int]("__cl")) ->
            (0 until dims(s)).map(i => r.getAs[Double](s"__m_$i")).toArray
        }
        .toMap
      cents = Array.tabulate(m) { s =>
        cents(s).zipWithIndex.map { case (prev, j) =>
          stats.getOrElse((s, j), prev) // empty cluster keeps its centroid
        }
      }
    }
    cents.toSeq.map { cs =>
      val perm = Array.ofDim[Int](cs.length)
      cs.indices.sortWith { (a, b) =>
        val c = lexCompare(cs(a), cs(b)); if (c != 0) c < 0 else a < b
      }.zipWithIndex.foreach { case (j, rank) => perm(j) = rank }
      Model(cs, perm)
    }
  }

  /** `f(0) … f(n-1)`, run from a pool of at most 4 threads created here,
    * so they inherit the caller's scope and job label; inline for
    * n = 1. */
  private def inParallel[T: scala.reflect.ClassTag](n: Int)(
      f: Int => T): Array[T] =
    if (n == 1) Array(f(0))
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(n, 4))
      try {
        implicit val ec =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futs = (0 until n).map(i => scala.concurrent.Future(f(i)))
        futs.map(scala.concurrent.Await
          .result(_, scala.concurrent.duration.Duration.Inf)).toArray
      } finally pool.shutdown()
    }

  /** Canonical cluster id for an array<double> column; NULL for rows
    * that are not `usableVec`. */
  def labelExprVec(m: Model, vec: Column, d: Int): Column = {
    val dv = transform(vec, _.cast(DoubleType))
    val remapped = element_at(
      array(m.perm.map(r => lit(r)).toIndexedSeq: _*),
      assignExprVec(m.centroids, dv) + 1)
    when(!usableVec(dv, d), lit(null).cast("int")).otherwise(remapped)
  }

  /** Scalar-column assignment through the SAME native kernel as the
    * vector path: pack the cast features into an array and argmin with
    * [[graft.functions.ArgminDist]]: left-fold (xᵢ−cᵢ)² in dimension
    * order, lowest index wins ties (KMeansDetSpec pins it against the
    * literal column form kept in the test tree), but the centroids ride
    * in a codegen REFERENCE OBJECT, so the generated source is
    * identical across Lloyd iterations: one janino compile
    * per fit instead of one per iteration (a7_kmeans measured 60
    * codegen compiles ≈ 0.4 s/run on the literal form). Callers
    * guard/filter unusable rows. */
  private[graft] def assignExprCols(cents: Array[Array[Double]],
      feats: Seq[Column]): Column =
    graft.functions.ArgminDist.argmin_dist(
      array(feats.map(_.cast(DoubleType)): _*), cents)

  private def lexCompare(a: Array[Double], b: Array[Double]): Int = {
    var i = 0
    while (i < a.length) {
      val c = java.lang.Double.compare(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  // ------------------------------------------------------------ oracle SQL

  /** The same computation as `fit`+`withCluster`, expressed as chained
    * SQL CTEs (DuckDB dialect) in a LONG relational layout: points and
    * centroids unpivot to (row, dim, value) rows, so the generated text
    * is O(d + iters) — the fully-unrolled argmin form this replaces was
    * O(k²·d·iters) and reached megabytes at d = 64 (the embedding
    * gates). Every arithmetic step still mirrors the Spark side
    * EXACTLY:
    *
    *  - per-point squared distances left-fold (x − c)² in dimension
    *    order via list_reduce over a list(... ORDER BY dim) — the same
    *    IEEE addition sequence as ArgminDist's dimension loop;
    *  - the assignment takes the LOWEST cluster id among equal minima
    *    (ROW_NUMBER ORDER BY dist, j ≡ the CASE chain's tie-break);
    *  - centroid means are exact DECIMAL(30,6) sums cast once to
    *    double; an empty cluster keeps its previous centroid;
    *  - the canonical relabel is ROW_NUMBER over the centroid lex
    *    order (ties by original id), like fit's sortWith.
    *
    * TRY_CAST mirrors Spark's lenient cast (NULL for non-numeric
    * strings); `__km` labels ALL of `__raw`, NULL cluster for rows with
    * an unusable (NULL/NaN) feature — exactly withCluster's contract.
    * `idCols` must uniquely identify rows (the `tieBreak` contract).
    * `fromSql` is the source relation; the result CTE `__km` has
    * idCols + features + `cluster`. */
  def oracleSql(fromSql: String, idCols: Seq[String], features: Seq[String],
      k: Int, iters: Int = 10): String = {
    val d = features.size
    val rawCols = (idCols ++ features.map(f => s"TRY_CAST($f AS DOUBLE) AS $f"))
      .mkString(", ")
    val usableSql = features
      .map(f => s"$f IS NOT NULL AND NOT isnan($f) AND NOT isinf($f)")
      .mkString(" AND ")
    val unusableR = features
      .map(f => s"r.$f IS NULL OR isnan(r.$f) OR isinf(r.$f)")
      .mkString("(", ") OR (", ")")
    val ids = idCols.mkString(", ")
    def qids(q: String) = idCols.map(i => s"$q.$i").mkString(", ")
    val idsEqPA = idCols.map(i => s"p.$i = a.$i").mkString(" AND ")
    val idsEqRA = idCols.map(i => s"r.$i = a.$i").mkString(" AND ")
    val dimCase =
      "CASE dm.dim " + features.zipWithIndex
        .map { case (f, i) => s"WHEN $i THEN $f" }.mkString(" ") + " END"
    val ord = (features ++ idCols).mkString(", ")
    // one distance + one assignment CTE, parameterized by the centroid
    // CTE feeding them (used per iteration and once for final labels)
    def distCte(name: String, cents: String) =
      s"$name AS (SELECT ${qids("p")}, c.j," +
        s" list_reduce(list((p.x - c.c) * (p.x - c.c) ORDER BY p.dim)," +
        s" (a, b) -> a + b) AS dist" +
        s" FROM __pl p JOIN $cents c ON c.dim = p.dim" +
        s" GROUP BY ${qids("p")}, c.j),\n"
    def assignCte(name: String, dists: String) =
      s"$name AS MATERIALIZED (SELECT $ids, j AS cl FROM (SELECT $ids, j," +
        s" ROW_NUMBER() OVER (PARTITION BY $ids ORDER BY dist, j) AS rnk" +
        s" FROM $dists) WHERE rnk = 1),\n"
    val sb = new StringBuilder
    // AS MATERIALIZED on every multiply-referenced CTE: without it
    // DuckDB 1.0 inlines CTEs as subqueries, and the __c chain (each
    // iteration references the previous twice) re-expands exponentially
    // — the un-hinted form never finished at iters = 10
    sb ++= s"__raw AS MATERIALIZED (SELECT $rawCols FROM $fromSql),\n"
    sb ++= s"__pts AS MATERIALIZED (SELECT * FROM __raw WHERE $usableSql),\n"
    sb ++= s"__rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY $ord) AS __rn" +
      s" FROM __pts),\n"
    sb ++= s"__nn AS (SELECT COUNT(*) AS __n FROM __pts),\n"
    sb ++= s"__dims AS (SELECT unnest(range(0, $d)) AS dim),\n"
    // init: the k quantile rows, rank ((2j+1)n)//(2k)+1, unpivoted
    sb ++= s"__ini AS (SELECT j, ((2*j + 1) * __n) // ${2 * k} + 1 AS rn" +
      s" FROM (SELECT unnest(range(0, $k)) AS j) __js CROSS JOIN __nn),\n"
    sb ++= s"__c0 AS MATERIALIZED (SELECT i.j, dm.dim, $dimCase AS c" +
      s" FROM __ini i JOIN __rk r ON r.__rn = i.rn CROSS JOIN __dims dm),\n"
    sb ++= s"__pl AS MATERIALIZED (SELECT $ids, dm.dim, $dimCase AS x" +
      s" FROM __pts CROSS JOIN __dims dm),\n"
    for (t <- 1 to iters) {
      sb ++= distCte(s"__d$t", s"__c${t - 1}")
      sb ++= assignCte(s"__a$t", s"__d$t")
      sb ++= s"__c$t AS MATERIALIZED (SELECT prev.j, prev.dim," +
        s" COALESCE(CAST(SUM(CAST(q.x AS DECIMAL(30,6))) AS DOUBLE)" +
        s" / NULLIF(COUNT(q.x), 0), MAX(prev.c)) AS c" +
        s" FROM __c${t - 1} prev LEFT JOIN" +
        s" (SELECT a.cl, p.dim, p.x FROM __pl p JOIN __a$t a ON $idsEqPA) q" +
        s" ON q.cl = prev.j AND q.dim = prev.dim" +
        s" GROUP BY prev.j, prev.dim),\n"
    }
    sb ++= distCte("__dF", s"__c$iters")
    sb ++= assignCte("__aF", "__dF")
    // canonical relabel: pivot centroids wide, rank by lex order
    val pivotCols = (0 until d)
      .map(i => s"MAX(CASE WHEN dim = $i THEN c END) AS c_$i")
      .mkString(", ")
    val lexOrd = ((0 until d).map(i => s"c_$i") :+ "j").mkString(", ")
    sb ++= s"__cw AS (SELECT j, $pivotCols FROM __c$iters GROUP BY j),\n"
    sb ++= s"__rel AS (SELECT j, CAST(ROW_NUMBER() OVER (ORDER BY $lexOrd)" +
      s" - 1 AS INTEGER) AS __rank FROM __cw),\n"
    val selCols = (idCols ++ features).map(x => s"r.$x").mkString(", ")
    sb ++= s"__km AS (SELECT $selCols," +
      s" CAST(CASE WHEN $unusableR THEN NULL ELSE rel.__rank END" +
      s" AS INTEGER) AS cluster" +
      s" FROM __raw r LEFT JOIN __aF a ON $idsEqRA" +
      s" LEFT JOIN __rel rel ON rel.j = a.cl)"
    sb.toString
  }
}
