package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

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
    * the feature columns to a total order (any unique row id). */
  def fit(df: DataFrame, features: Seq[String], tieBreak: Seq[Column],
      k: Int, iters: Int = 10): Model = graft.Scope.nested { sc =>
    // k = 1 is legal (the reference's `k-means (1)` reduces the whole
    // frame to one cluster): init picks the single median row, every
    // iteration computes the global mean, the assignment always picks
    // cluster 0 — no special casing needed beyond allowing it here
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters > 0, s"iters must be > 0, got $iters")
    require(features.nonEmpty, "k-means needs at least one feature column")
    val pts = sc.cache(df
      .select(features.map(f => col(f).cast(DoubleType).as(f))
        :+ struct(tieBreak: _*).as("__tb"): _*)
      // post-cast guard: catches nulls, non-castable values AND NaN —
      // a NaN feature would pass isNotNull but vanish from the decimal
      // sum while still counting in count(), silently skewing centroids
      .filter(features.map(f => usable(col(f))).reduce(_ && _)),
      "kmdet: points")
    val order = features.map(col(_).asc) :+ col("__tb").asc
    // ordinal width follows the FRAME's partitioning, not the shuffle
    // constant: the fit frame is small/projected, and a 32-way range
    // exchange of a 1-partition frame is pure task overhead (r16)
    val (ordDf, n) = Ordinals.withGlobalOrdinalTotal(pts, "__rn", order,
      numPartitions = pts.rdd.getNumPartitions max 1)
    require(n >= k, s"k-means needs at least k=$k rows, got $n")
    val ranks = (0 until k).map(j => ((2L * j + 1) * n) / (2L * k) + 1)
    // k rows collect; the rank order is applied DRIVER-side (an
    // orderBy here planned a range exchange + sampling job per fit)
    val initRows = ordDf
      .filter(col("__rn").isin(ranks: _*))
      .select(col("__rn") +: features.map(col): _*)
      .collect()
      .sortBy(_.getLong(0))
    var cents = initRows.map(r =>
      features.indices.map(i => r.getDouble(i + 1)).toArray)
    // the k quantile ranks are distinct for any n >= k, so this only
    // fires on a broken ordinal — but a short centroid array would
    // otherwise fit fewer than k clusters without a word
    require(cents.length == k,
      s"init produced ${cents.length} centroids, expected $k")
    for (_ <- 1 to iters) {
      // per-cluster exact-decimal means (queries.Det shape: decimal sum
      // is order-independent, the one decimal→double cast rounds the
      // same everywhere)
      val aggs = features.map { f =>
        (sum(col(f).cast(dec6)).cast(DoubleType) / count(col(f)))
          .as(s"__m_$f")
      }
      val stats = pts
        .groupBy(assignExprCols(cents, features.map(col)).as("__cl"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getAs[Int]("__cl") ->
          features.map(f => r.getAs[Double](s"__m_$f")).toArray)
        .toMap
      cents = cents.zipWithIndex.map { case (prev, j) =>
        stats.getOrElse(j, prev) // empty cluster keeps its centroid
      }
    }
    // canonical relabel: output id = rank of the centroid in
    // lexicographic order (original id breaks exact-tie centroids)
    val sortedIdx = cents.indices.sortWith { (a, b) =>
      val c = lexCompare(cents(a), cents(b)); if (c != 0) c < 0 else a < b
    }
    val perm = Array.ofDim[Int](k)
    sortedIdx.zipWithIndex.foreach { case (j, rank) => perm(j) = rank }
    Model(cents, perm)
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

  /** fit over an array<double> column of fixed dimension `d` (the
    * embedding shape). Identical mathematics to `fit` — quantile-row
    * init over the element-lexicographic order, exact DECIMAL(30,6)
    * means, empty cluster keeps its centroid, canonical relabel — so
    * `oracleSql` replicates it given a relation that extracts the `d`
    * elements as columns. Rows that are not `usableVec` are skipped. */
  def fitVec(df: DataFrame, vecCol: String, d: Int, tieBreak: Seq[Column],
      k: Int, iters: Int = 10): Model = graft.Scope.nested { sc =>
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters > 0, s"iters must be > 0, got $iters")
    require(d >= 1, s"need at least one dimension, got $d")
    def el(i: Int) = element_at(col("__vec"), i + 1)
    val pts = sc.cache(df
      .select(transform(col(vecCol), _.cast(DoubleType)).as("__vec"),
        struct(tieBreak: _*).as("__tb"))
      .filter(usableVec(col("__vec"), d)), "kmdet: points")
    val order = (0 until d).map(i => el(i).asc) :+ col("__tb").asc
    // see fit: ordinal width follows the frame's partitioning
    val (ordDf, n) = Ordinals.withGlobalOrdinalTotal(pts, "__rn", order,
      numPartitions = pts.rdd.getNumPartitions max 1)
    require(n >= k, s"k-means needs at least k=$k rows, got $n")
    val ranks = (0 until k).map(j => ((2L * j + 1) * n) / (2L * k) + 1)
    // driver-side rank sort — see fit
    val initRows = ordDf
      .filter(col("__rn").isin(ranks: _*))
      .select(col("__rn"), col("__vec"))
      .collect()
      .sortBy(_.getLong(0))
    var cents = initRows.map(_.getSeq[Double](1).toArray)
    require(cents.length == k,
      s"init produced ${cents.length} centroids, expected $k")
    for (_ <- 1 to iters) {
      val aggs = (0 until d).map { i =>
        (sum(el(i).cast(dec6)).cast(DoubleType) / count(el(i)))
          .as(s"__m_$i")
      }
      val stats = pts
        .groupBy(assignExprVec(cents, col("__vec")).as("__cl"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getAs[Int]("__cl") ->
          (0 until d).map(i => r.getAs[Double](s"__m_$i")).toArray)
        .toMap
      cents = cents.zipWithIndex.map { case (prev, j) =>
        stats.getOrElse(j, prev)
      }
    }
    val sortedIdx = cents.indices.sortWith { (a, b) =>
      val c = lexCompare(cents(a), cents(b)); if (c != 0) c < 0 else a < b
    }
    val perm = Array.ofDim[Int](k)
    sortedIdx.zipWithIndex.foreach { case (j, rank) => perm(j) = rank }
    Model(cents, perm)
  }

  /** Fit `vecCols.size` SAME-DIMENSION vector columns of one frame with
    * a single synchronized Lloyd loop — the fused form of calling
    * [[fitVec]] once per column. Mathematics per column IDENTICAL to
    * fitVec (KMeansDetSpec pins model equality): rows explode to
    * (subspace, vector) with the per-row usable filter applied per
    * exploded row (the same row multiset each per-column fit filters);
    * init is each subspace's quantile rows over its own element-
    * lexicographic order; and each iteration's centroid update groups
    * by (subspace, cluster) FIRST, so every group sums exactly the
    * rows the per-column fit's (cluster) group did — exact
    * DECIMAL(30,6) sums are order-free, so fusing changes nothing.
    *
    * Why fuse (guide §2 job-latency floor): m independent fits run
    * m·iters tiny aggregate-collect jobs whose ~60–100 ms job-launch
    * latency dominates at small per-subspace data (s_ann_pq profiled
    * ~120 jobs, r16); the fused loop runs `iters` jobs total. The m
    * ordinal init scans stay per-subspace (each orders by different
    * keys) and overlap from a small pool (§2.6). Assignment dispatches
    * on the subspace id through a CASE of [[graft.functions.ArgminDist]]
    * kernels — centroids ride as codegen reference objects, so the
    * generated source is identical across iterations (one compile per
    * fit, as in fitVec). */
  def fitVecMulti(df: DataFrame, vecCols: Seq[String], d: Int,
      tieBreak: Seq[Column], k: Int, iters: Int = 10): Seq[Model] =
    fitVecMultiSpec(df, vecCols.map(c => (c, d, k)), tieBreak, iters)

  /** The general form of [[fitVecMulti]]: each entry of `specs` is
    * (vector column, its dimension, its k) — mixed dimensions and
    * cluster counts share the one fused Lloyd loop. Per-entry
    * mathematics identical to [[fitVec]] (KMeansDetSpec). pqTopK fuses
    * only its m d/m-dim codebooks here and deliberately keeps the d-dim
    * IVF coarse-cell fit OUT of the fused loop: the round aggregate
    * widens to the largest dimension for every exploded row, and fusing
    * the IVF fit measured 5 → 38 s of task time (d=64, m=8). */
  def fitVecMultiSpec(df: DataFrame, specs: Seq[(String, Int, Int)],
      tieBreak: Seq[Column], iters: Int = 10): Seq[Model] = {
    require(iters > 0, s"iters must be > 0, got $iters")
    require(specs.nonEmpty, "fitVecMultiSpec needs at least one column")
    specs.foreach { case (c, dd, kk) =>
      require(dd >= 1, s"$c: need at least one dimension, got $dd")
      require(kk >= 1, s"$c: k must be >= 1, got $kk")
    }
    val m = specs.size
    if (m == 1) {
      val (c, dd, kk) = specs.head
      return Seq(fitVec(df, c, dd, tieBreak, kk, iters))
    }
    val dims = specs.map(_._2)
    val ks = specs.map(_._3)
    def el(i: Int) = element_at(col("__vec"), i + 1)
    // per-row usable filter per SUBSPACE dimension — the same row
    // multiset each per-column fitVec filters
    val usableBySub = specs.zipWithIndex.map { case ((_, dd, _), s) =>
      col("__s") === lit(s) && usableVec(col("__vec"), dd)
    }.reduce(_ || _)
    graft.Scope.nested { sc =>
      // filled ONCE before the concurrent init scans (the r15/r16 lesson:
      // a concurrent first fill recomputes the projection per future); the
      // fill also warms every block the loop reads
      val pts = sc.cache(df
        .select(struct(tieBreak: _*).as("__tb"),
          posexplode(array(specs.map { case (c, _, _) =>
            transform(col(c), _.cast(DoubleType)) }: _*)))
        .withColumnRenamed("pos", "__s")
        .withColumnRenamed("col", "__vec")
        .filter(usableBySub), "kmdet-multi: points")
      val partsN = (try pts.rdd.getNumPartitions
        catch { case _: Throwable => 1 }) max 1
      // per-subspace quantile init — independent ordinal job chains,
      // overlapped (guide §2.6); the only remaining per-subspace jobs
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(m, 4))
      val initCents: Array[Array[Array[Double]]] =
        try {
          implicit val ec =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          val futs = (0 until m).map { s =>
            scala.concurrent.Future {
              graft.Scope.labeled(s"kmdet-multi: init $s") {
              val k = ks(s)
              val sub = pts.filter(col("__s") === s)
              val order =
                (0 until dims(s)).map(i => el(i).asc) :+ col("__tb").asc
              val (ordDf, n) = Ordinals.withGlobalOrdinalTotal(sub,
                "__rn", order, numPartitions = partsN)
              require(n >= k,
                s"k-means needs at least k=$k rows, got $n (subspace $s)")
              val ranks =
                (0 until k).map(j => ((2L * j + 1) * n) / (2L * k) + 1)
              // driver-side rank sort — see fit
              val initRows = ordDf
                .filter(col("__rn").isin(ranks: _*))
                .select(col("__rn"), col("__vec"))
                .collect()
                .sortBy(_.getLong(0))
              val cs = initRows.map(_.getSeq[Double](1).toArray)
              require(cs.length == k,
                s"init produced ${cs.length} centroids, expected $k" +
                  s" (subspace $s)")
              cs
            } }
          }
          futs.map(f => scala.concurrent.Await
            .result(f, scala.concurrent.duration.Duration.Inf)).toArray
        } finally pool.shutdown()
      var cents = initCents
      val maxDim = dims.max
      for (t <- 1 to iters) {
        // ONE aggregate job updates every subspace's centroids
        val assign = (1 until m).foldLeft(
          when(col("__s") === lit(0),
            assignExprVec(cents(0), col("__vec")))) { (acc, s) =>
          acc.when(col("__s") === lit(s),
            assignExprVec(cents(s), col("__vec")))
        }
        // aggregate to the WIDEST dimension; a shorter subspace's extra
        // columns aggregate nulls (count 0, mean null) and are never
        // read below — each (s, cl) group reads exactly dims(s) means
        val aggs = (0 until maxDim).map { i =>
          (sum(el(i).cast(dec6)).cast(DoubleType) / count(el(i)))
            .as(s"__m_$i")
        }
        val stats = graft.Scope.labeled(s"kmdet-multi: round $t")(pts
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
            stats.getOrElse((s, j), prev) // empty cluster keeps centroid
          }
        }
      }
      (0 until m).map { s =>
        val cs = cents(s)
        val sortedIdx = cs.indices.sortWith { (a, b) =>
          val c = lexCompare(cs(a), cs(b)); if (c != 0) c < 0 else a < b
        }
        val perm = Array.ofDim[Int](ks(s))
        sortedIdx.zipWithIndex.foreach { case (j, rank) => perm(j) = rank }
        Model(cs, perm)
      }
    }
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
