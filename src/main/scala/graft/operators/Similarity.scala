package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cache.LineageCache

/** Embedding similarity — deterministic cosine, brute-force and IVF
  * approximate nearest neighbors, cosine near-dup (library surface for
  * the s_ann_* / d_embed_* gates).
  */
object Similarity {

  /** Deterministic dot product: each per-element double product scaled by
    * 1e12 and floored to a long (exact — |x·y|·1e12 ≲ 1e13 < 2^53), summed
    * in integer arithmetic (order-independent), divided back once.
    * Bit-identical across engines, partitionings and runs. */
  def ddot(a: Column, b: Column): Column =
    (aggregate(
      zip_with(a, b, (x, y) =>
        floor(x.cast(DoubleType) * y.cast(DoubleType) * lit(1e12))
          .cast(LongType)),
      lit(0L), (acc, x) => acc + x)
      .cast(DoubleType) / lit(1e12))

  def norm(v: Column): Column = sqrt(ddot(v, v))

  def cosine(a: Column, an: Column, b: Column, bn: Column): Column =
    ddot(a, b) / (an * bn)

  /** Dimension of a vector column: the max element count over the
    * (cached) frame — null-safe, loud on an empty or all-null corpus,
    * and rows of any OTHER length are later dropped by the fit's
    * usable-vector filter rather than trusted blindly (a first-row
    * probe would crash on an empty corpus and silently mis-size a
    * ragged one). One aggregate job over the already-persisted frame. */
  private def vecDim(df: DataFrame, vecCol: String): Int = {
    val r = df.select(max(size(col(vecCol)))).head()
    require(!r.isNullAt(0), s"no non-null vectors in $vecCol")
    r.getInt(0)
  }

  /** Fixed-point quantization of a float vector to longs (1e-6 steps),
    * computed ONCE per row so every pairwise dot is a pure long
    * multiply-add. The scale cancels out of cosine
    * (dotQ/(√dotQa·√dotQb)), so results stay bit-deterministic and
    * SQL-replicable; quantization error ~1e-6 applies identically on
    * both sides of an oracle compare. */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast(DoubleType) * lit(1e6)).cast(LongType))

  /** Symmetric int8 quantization (per-vector scale max|x|/127,
    * q = floor(x·127/max|x| + 0.5)) — the RETRIEVAL form of the
    * s_embed_quantize storage compressor. The per-vector scale cancels
    * out of cosine exactly like [[quantize]]'s fixed-point step does,
    * so quantized search needs no dequantization: 4× less vector data
    * in every shuffle/cache/broadcast, at a small recall cost
    * (recall@10 ≥ 0.9 vs exact asserted in DedupSpec). */
  def quantizeInt8(v: Column): Column = {
    val ma = array_max(transform(v, x => abs(x.cast(DoubleType))))
    transform(v, x =>
      when(ma > 0, floor(x.cast(DoubleType) * lit(127.0) / ma + lit(0.5)))
        .otherwise(lit(0.0)).cast(LongType))
  }

  /** Long dot product over quantized vectors (order-independent).
    * Native codegen'd expression (graft.functions.DotQ) — the HOF
    * zip_with+aggregate form allocates an intermediate array per pair
    * comparison; this is one generated loop. */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.DotQ.dot_q(a, b).cast(DoubleType)

  def normQ(v: Column): Column = sqrt(dotQ(v, v))

  /** Exact cosine top-k for a (small, broadcastable) query set against the
    * full corpus. The correctness baseline for any ANN variant.
    * `quantizer` picks the vector representation: [[quantize]] (default,
    * 1e-6 fixed point — exact ranking) or [[quantizeInt8]] (4× smaller,
    * approximate ranking). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int,
      quantizer: Column => Column = quantize): DataFrame = {
    val e = corpus.select(col(idCol), quantizer(col(vecCol)).as("__v"))
      .withColumn("__nrm", normQ(col("__v")))
    val q = queries.select(col(idCol).as("query_id"),
      quantizer(col(vecCol)).as("__qv"))
      .withColumn("__qn", normQ(col("__qv")))
    val scored = broadcast(q).join(e, col("query_id") =!= col(idCol))
      .withColumn("cosine",
        dotQ(col("__qv"), col("__v")) / (col("__qn") * col("__nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"),
        col("cosine"))
  }

  /** `id`, `__dv` (the vector cast to double) and `__na`, its
    * L2-normalization: the space every cell model and codebook is fit
    * in. Euclidean k-means on the unit sphere ≈ cosine cells
    * (‖a−b‖² = 2−2cos); clustering raw vectors mixes magnitude into the
    * cells and costs recall (DedupSpec measured 0.54 → normalized ≥0.9
    * recall@10). */
  private def normalized(df: DataFrame, id: Column,
      vecCol: String): DataFrame =
    df.select(id, transform(col(vecCol), _.cast(DoubleType)).as("__dv"))
      .withColumn("__l2",
        sqrt(aggregate(col("__dv"), lit(0.0), (a, x) => a + x * x)))
      // guard: an all-zero vector has __l2=0; x/0 would feed
      // NaN/Infinity features into the fit
      .withColumn("__na", transform(col("__dv"),
        x => x / greatest(col("__l2"), lit(1e-30))))

  /** The k-means models of one corpus, through the one model path
    * ([[graft.cache.LineageCache.model]]). They are memoised in the
    * open [[graft.Scope]] under `kind`, the fit parameters and the plan
    * of the corpus' (id, vector) columns, so ivfTopK, cosineDedupKMeans
    * and pqTopK over one corpus share one fit, and a call never gets
    * the models of another corpus. With `modelStore` set they are also
    * saved as one (idx, perm, centroid) table under
    * `key(kind, modelKey +: params)`: a later session (new JVM, same
    * store root) loads the centroids instead of re-running the Lloyd
    * loop, so incremental ingest re-probes the SAME cells across
    * restarts (the reuse the reference's CouchDB cache gives its
    * transformations, workers/calculator.worker/src/Program.fs:86-88).
    * The store cannot see the data: `modelKey` names the corpus, and
    * the caller changes it when the corpus changes. Every model has `k`
    * centroids; `idx` runs over all of them in model order. */
  private def fitModels(corpus: DataFrame, idCol: String, vecCol: String,
      modelKey: Option[String], modelStore: Option[LineageCache],
      kind: String, k: Int, params: Int*)(
      fit: => Seq[KMeansDet.Model]): Seq[KMeansDet.Model] = {
    require(modelStore.isEmpty || modelKey.isDefined,
      "a model store keys its artifacts by modelKey: name the corpus")
    val spark = corpus.sparkSession
    import spark.implicits._
    LineageCache.model(modelStore, kind,
      modelKey.toSeq ++ (k +: params).map(_.toString),
      corpus.select(col(idCol), col(vecCol)))(
      fit.flatMap(m => m.centroids.indices.map(j => (m.perm(j),
          m.centroids(j).toSeq)))
        .zipWithIndex.map { case ((p, c), i) => (i, p, c) }
        .toDF("idx", "perm", "centroid"))(
      // without a store a local table: collected with no Spark job
      _.collect().sortBy(_.getInt(0)).grouped(k).map(rows => KMeansDet
        .Model(rows.map(_.getSeq[Double](2).toArray), rows.map(_.getInt(1))))
        .toSeq)
  }

  /** The `nCells` coarse cells of `frame`'s `__na` vectors (d-dim), one
    * [[KMeansDet.fitVec]] through [[fitModels]]. */
  private def cellModel(corpus: DataFrame, idCol: String, vecCol: String,
      modelKey: Option[String], modelStore: Option[LineageCache],
      frame: DataFrame, tieBreak: Column, d: Int, nCells: Int,
      iters: Int): KMeansDet.Model =
    fitModels(corpus, idCol, vecCol, modelKey, modelStore, "cellmodel",
      nCells, iters, d)(
      Seq(KMeansDet.fitVec(frame, "__na", d, Seq(tieBreak), nCells, iters)))
      .head

  /** IVF ANN: KMeansDet coarse quantization of the normalized vectors
    * (fitVec, a fixed `fitIters` Lloyd iterations), probe the `nprobe`
    * nearest cells per query, exact cosine within probed cells. The
    * only full scan is cell assignment; centroids broadcast. Cell ids
    * are a pure function of the corpus, so the whole index —
    * normalization, fit, assignment, probe ranking, final top-k — is
    * re-derivable in SQL (the s_ann_ivf oracle) and stable across
    * engine versions. `fitIters` defaults to 3: coarse cells need
    * STABILITY (a fixed, engine-reproducible partition of the sphere),
    * not convergence — recall depends on multi-probe covering boundary
    * pairs, not on the cells being the k-means optimum — and each extra
    * iteration is a full corpus pass in the driver loop. The cell model
    * goes through [[fitModels]] (`modelKey` names the corpus in a
    * `modelStore`). */
  def ivfTopK(corpus: DataFrame, queryIds: Column => Column, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nprobe: Int = 4,
      fitIters: Int = 3, modelKey: Option[String] = None,
      modelStore: Option[LineageCache] = None): DataFrame =
      graft.Scope.nested { s =>
    val spark = corpus.sparkSession
    // cached: the normalized/quantized projection feeds the fit
    // (multiple passes), the assignment and the query probe — uncached
    // each consumer recomputes the HOF chain
    val e = s.cache(normalized(corpus, col(idCol), vecCol)
      .withColumn("__v", quantize(col("__dv")))
      .withColumn("__nrm", normQ(col("__v"))), "ivf: vectors")
    val d = vecDim(e, "__na")
    val m = cellModel(corpus, idCol, vecCol, modelKey, modelStore, e,
      col(idCol), d, nCells, fitIters)
    // assigned feeds the probe and the scoring joins — cache it (filled
    // before those two branches race it), return the (queries × k)-row
    // result eagerly
    val assigned = s.cache(e
      .withColumn("__cell", KMeansDet.labelExprVec(m, col("__na"), d))
      .select(col(idCol), col("__v"), col("__nrm"), col("__cell")),
      "ivf: cell assignment")
    val centDf = spark.createDataFrame(KMeansDet.canonicalCentroids(m)
        .zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
      .toDF("__cell", "__cvd")
      .withColumn("__cv", quantize(col("__cvd")))
      .withColumn("__cnrm", normQ(col("__cv")))
    val q = assigned.filter(queryIds(col(idCol)))
      .select(col(idCol).as("query_id"), col("__v").as("__qv"),
        col("__nrm").as("__qn"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("__ccos").desc, col("__cell"))
    val probed = broadcast(q).crossJoin(broadcast(centDf))
      .withColumn("__ccos",
        dotQ(col("__qv"), col("__cv")) / (col("__qn") * col("__cnrm")))
      .withColumn("__crank", row_number().over(wc))
      .filter(col("__crank") <= nprobe)
      .select("query_id", "__qv", "__qn", "__cell")
    val scored = probed.join(assigned,
      probed("__cell") === assigned("__cell")
        && col("query_id") =!= col(idCol))
      .withColumn("cosine",
        dotQ(col("__qv"), col("__v")) / (col("__qn") * col("__nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol))
    graft.Scope.checkpoint(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"),
        col("cosine")), "ivf: output")
  }

  /** pqTopK's spread target: one task per MB of corpus input (see
    * [[graft.PlanAudit.repartitionIfLayoutBound]]). */
  private val AdcBytesPerTask = 1L << 20

  /** Product-quantization ANN with asymmetric distance (Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    * split the L2-normalized vector into `m` subspaces, vector-quantize
    * each with its own deterministic KMeansDet codebook (`codes`
    * entries), keep only the m small codes per corpus vector, and rank
    * by ADC — the query stays full precision and reads per-subspace
    * partial dots from a per-query lookup table, so approximate cosine
    * is a sum of m table entries, never a d-dim dot.
    *
    * 100 TB shape: after encoding, a corpus vector is m ints + one
    * long (~20 B vs 256 B floats) — the index that fits in memory when
    * vectors don't. Codebooks are m·codes centroid rows fit once in
    * one fused Lloyd loop ([[fitModels]], as [[ivfTopK]]'s cells);
    * encoding is a NARROW map (codegen'd argmin literal
    * expression per subspace — no join); the per-query LUT is built on
    * a (queries × m·codes)-row broadcast frame; scoring is a narrow
    * zip of codes against the broadcast LUT plus one per-query top-k
    * window. The corpus never shuffles. Compose with [[ivfTopK]] cells
    * for candidate pruning (IVF-PQ) when even the narrow scan is too
    * much.
    *
    * `rerank = R > 0` adds the standard second stage: the ADC scan
    * SHORTLISTS the top R per query, then the shortlist alone is
    * re-ranked by exact quantized cosine on the full vectors (a
    * queries×R-row join — bounded, never the corpus). Pure ADC ranks
    * by a 16-byte reconstruction and tops out near recall@10 ≈ 0.6 on
    * tight clusters (DedupSpec); the shortlist+re-rank form is how PQ
    * deploys, and recovers ≥ 0.9.
    *
    * Determinism contract (the oracle replays everything): codebooks
    * from KMeansDet on the normalized slices; centroids and queries in
    * 1e-6 fixed point, so every partial dot is an exact integer and
    * the score sum is order-free; approximate cosine =
    * dot(q, x̂) / (‖q‖·max(‖x̂‖, 1e-30)) with x̂ the concatenated
    * centroid reconstruction; ties rank by neighbor id at both
    * stages. */
  /** `nCells = C > 0` composes IVF-PQ: a coarse KMeansDet cell model
    * (the one [[ivfTopK]] fits over the same corpus, see [[fitModels]])
    * assigns every corpus vector a cell as a narrow expression, queries
    * probe their `nprobe` best cells against the quantized cell
    * centroids, and the ADC zip runs only on rows whose cell was probed
    * — the candidate-pruned scan that makes PQ a two-level index at
    * corpus scale. */
  def pqTopK(corpus: DataFrame, queryIds: Column => Column, idCol: String,
      vecCol: String, k: Int, m: Int = 4, codes: Int = 16,
      fitIters: Int = 3, rerank: Int = 0, nCells: Int = 0,
      nprobe: Int = 4, modelKey: Option[String] = None,
      modelStore: Option[LineageCache] = None): DataFrame =
      graft.Scope.nested { sc =>
    val spark = corpus.sparkSession
    // decouple the fit/code/ADC stages from the input's FILE layout:
    // a few-row-group corpus file caps the scan (and everything narrow
    // above it) at the row-group count — sf1 measured 3.3× on the
    // 4-row-group driver file vs 1.6× on a 32-split layout of the same
    // rows. No-op when the input already offers >= cores splits.
    // data-PROPORTIONAL spread width (r17): the PQ encode/ADC is ~1k
    // flops per row — light enough that one task chews MBs — so the
    // spread caps at one task per AdcBytesPerTask instead of always
    // fanning to cluster width; at corpus scale the cap exceeds the
    // width and nothing changes
    val e0 = normalized(
      graft.PlanAudit.repartitionIfLayoutBound(corpus, AdcBytesPerTask),
      col(idCol), vecCol)
    // dim off the RAW vector column (transform/normalize preserve
    // element count): the probe over e0 paid the spread exchange and
    // the HOF chain for a max(size) aggregate
    val d = graft.Scope.labeled("pq: dim probe")(vecDim(corpus, vecCol))
    require(m > 0 && d % m == 0, s"dim $d must split into m=$m subspaces")
    val sub = d / m
    // the shared sliced frame is cached and filled ONCE before the fits:
    // an r15 attempt at concurrent fits raced its materialization (every
    // fit's first job recomputed the projection) and measured slower
    val sliced = sc.cache((0 until m).foldLeft(e0) { (df, s) =>
      df.withColumn(s"__pq$s", slice(col("__na"), s * sub + 1, sub))
    }, "pq: sliced")
    // the fits read a DATA-PROPORTIONAL view of the materialized frame:
    // `sliced` is deliberately wide for the ADC/encode stages (layout
    // decoupling above), but a Lloyd fit over it is a chain of tiny jobs
    // and each would pay `cores` tasks of scheduling on a small corpus —
    // coalesce (no shuffle, reads the cached blocks) to one task per
    // PlanAudit.FitBytesPerTask, capped at cluster width
    val fitPar = graft.PlanAudit.fitParallelism(spark,
      graft.PlanAudit.inputBytes(corpus))
    val fitFrame =
      if (fitPar < (try sliced.rdd.getNumPartitions
        catch { case _: Throwable => fitPar }))
        sliced.coalesce(fitPar)
      else sliced
    // the d-dim IVF cell fit runs as a CONCURRENT future beside the m
    // codebooks' one fused Lloyd loop (KMeansDet.fitVecs), NOT inside
    // it: fusing mixed dimensions widens the round aggregate to the
    // largest dim for every exploded row (measured 5 → 38 s of task
    // time at d=64, m=8). The pool's thread is created here, so it
    // inherits this call's scope and job label
    val fitPool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val cf =
      try {
        implicit val fitEc =
          scala.concurrent.ExecutionContext.fromExecutor(fitPool)
        Option.when(nCells > 0)(scala.concurrent.Future {
          cellModel(corpus, idCol, vecCol, modelKey, modelStore, fitFrame,
            col(idCol), d, nCells, fitIters)
        })
      } finally fitPool.shutdown()
    val models = fitModels(corpus, idCol, vecCol, modelKey, modelStore,
      "pqcodebooks", codes, m, fitIters, sub)(
      KMeansDet.fitVecs(fitFrame,
        (0 until m).map(s => (col(s"__pq$s"), sub, codes)),
        Seq(col(idCol)), fitIters))
    val cells = cf.map(f => scala.concurrent.Await
      .result(f, scala.concurrent.duration.Duration.Inf))
    // quantized codebooks + per-code self-dots, driver-side (m·codes·sub
    // longs — bounded by the codebook contract)
    val cq: Seq[Seq[Seq[Long]]] = models.map(mod =>
      KMeansDet.canonicalCentroids(mod).toSeq
        .map(_.toSeq.map(x => math.floor(x * 1e6).toLong)))
    val cn2: Seq[Seq[Long]] =
      cq.map(_.map(cv => cv.map(v => v * v).sum))
    val cn2Lit = typedlit(cn2)
    val coded0 = sliced.withColumn("__codes",
      array((0 until m).map(s =>
        KMeansDet.labelExprVec(models(s), col(s"__pq$s"), sub)): _*))
    val coded = cells match {
      case Some(cm) => coded0.withColumn("__cell",
        KMeansDet.labelExprVec(cm, col("__na"), d))
      case None => coded0.withColumn("__cell", lit(0))
    }
    // corpus index: id + m codes + reconstruction self-dot (+ cell)
    val enc = coded.filter(forall(col("__codes"), _.isNotNull))
      .withColumn("__xn2", aggregate(
        zip_with(col("__codes"), cn2Lit,
          (c, row) => element_at(row, c + 1)),
        lit(0L), (a, x) => a + x))
      .select(col(idCol), col("__codes"), col("__xn2"), col("__cell"))
    val q0 = coded.filter(queryIds(col(idCol)))
      .select(col(idCol).as("query_id"), quantize(col("__dv")).as("__qv"))
      .withColumn("__qn", normQ(col("__qv")))
    // per-query LUT: partial dot of each query slice with each codebook
    // entry, reshaped to lut[s][j] (m·codes longs per query)
    val centDf = spark.createDataFrame(
      for { s <- 0 until m; j <- 0 until codes }
        yield (s, j, cq(s)(j))).toDF("__s", "__j", "__cq")
    val lut = q0.crossJoin(broadcast(centDf))
      .withColumn("__pdot",
        dotQ(slice(col("__qv"), col("__s") * sub + 1, lit(sub)),
          col("__cq")).cast(LongType))
      .groupBy(col("query_id"), col("__qn"), col("__s"))
      .agg(transform(
        array_sort(collect_list(struct(col("__j"), col("__pdot")))),
        x => x("__pdot")).as("__row"))
      .groupBy(col("query_id"), col("__qn"))
      .agg(transform(
        array_sort(collect_list(struct(col("__s"), col("__row")))),
        x => x("__row")).as("__lut"))
    // probed cells per query (IVF level only): rank quantized cell
    // centroids by cosine against the query, keep nprobe
    val lutP = cells match {
      case Some(cm) =>
        val cellDf = spark.createDataFrame(
            KMeansDet.canonicalCentroids(cm).zipWithIndex.map { case (c, i) =>
              (i, c.toSeq.map(x => math.floor(x * 1e6).toLong)) }.toSeq)
          .toDF("__cl", "__cv")
          .withColumn("__cn", normQ(col("__cv")))
        val wc = Window.partitionBy(col("query_id"))
          .orderBy(col("__ccos").desc, col("__cl"))
        val probed = q0.crossJoin(broadcast(cellDf))
          .withColumn("__ccos",
            dotQ(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
          .withColumn("__crank", row_number().over(wc))
          .filter(col("__crank") <= nprobe)
          .groupBy(col("query_id"))
          .agg(collect_set(col("__cl")).as("__cells"))
        lut.join(probed, Seq("query_id"))
      case None => lut.withColumn("__cells", array(lit(0)))
    }
    val scored = enc.crossJoin(broadcast(lutP))
      .filter(col("query_id") =!= col(idCol))
      .filter(array_contains(col("__cells"), col("__cell")))
      .withColumn("__dot", aggregate(
        zip_with(col("__codes"), col("__lut"),
          (c, row) => element_at(row, c + 1)),
        lit(0L), (a, x) => a + x))
      .withColumn("cosine",
        col("__dot").cast(DoubleType) /
          (col("__qn") *
            greatest(sqrt(col("__xn2").cast(DoubleType)), lit(1e-30))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol))
    val topk = (if (rerank <= 0) {
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"),
          col(idCol).as("neighbor_id"), col("cosine"))
    } else {
      // exact re-rank of the ADC shortlist: queries×R rows pull their
      // full quantized vectors back in — bounded by the shortlist, the
      // corpus itself never re-enters
      val shortlist = scored
        .withColumn("__arank", row_number().over(w))
        .filter(col("__arank") <= rerank)
        .select(col("query_id"), col(idCol))
      val ev = coded.select(col(idCol), quantize(col("__dv")).as("__v"))
        .withColumn("__nrm", normQ(col("__v")))
      val qv = q0.select(col("query_id").as("__qid"), col("__qv"),
        col("__qn"))
      val exact = shortlist
        .join(ev, Seq(idCol))
        .join(broadcast(qv), col("query_id") === col("__qid"))
        .withColumn("cosine",
          dotQ(col("__qv"), col("__v")) / (col("__qn") * col("__nrm")))
      val wx = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col(idCol))
      exact.withColumn("rank", row_number().over(wx))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"),
          col(idCol).as("neighbor_id"), col("cosine"))
    })
    graft.Scope.checkpoint(topk, "pq: output")
  }

  /** MMR diversity re-rank (Carbonell & Goldstein, "The Use of MMR…",
    * SIGIR 1998): greedy-select k results per query from a relevance
    * pool, each step taking the candidate maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    * standard redundancy cut for retrieval-augmented pipelines (near-dup
    * passages crowd out coverage under plain top-k).
    *
    * Shape: by default the pool is the exact quantized-cosine
    * top-`pool` per query (one corpus scan, same plan as
    * [[bruteForceTopK]] — a broadcast nested-loop against the full
    * corpus, the EXACT-pool regime for small/medium corpora). At corpus
    * scale, pass `poolOf` — a (query_id, neighbor_id) shortlist from
    * [[pqTopK]]/[[ivfTopK]]/[[rpLshTopK]] — and the corpus is instead
    * touched by ONE broadcast-hash join that pulls the shortlisted
    * vectors (pairs are queries×pool rows — always broadcastable); the
    * diversity walk is identical in both regimes. The greedy stage
    * touches only queries×pool rows — grouped by query and walked
    * SEQUENTIALLY inside each group (flatMapGroups), because the
    * selection is inherently order-dependent in k. One keyed shuffle of
    * the pool on query_id; the corpus never re-enters. This is the
    * documented mapGroups exception: per-group bounded (≤ pool rows),
    * sequential by definition — a k-step driver loop of joins would
    * run the same arithmetic in k jobs instead.
    *
    * Determinism contract (the oracle unrolls the k steps in SQL):
    * relevance and pairwise similarity are floor(1e9·cosine) fixed
    * point over 1e-6-quantized vectors; the MMR objective is the exact
    * integer `lambdaTenths·rel_fp − (10−lambdaTenths)·maxsim_fp`; the
    * first pick per query is the most relevant candidate (ties to the
    * lowest id — this holds at every λ including 0, matching the
    * oracle's `ORDER BY rel DESC, cid`); later picks break objective
    * ties to the lowest id. */
  def mmrTopK(corpus: DataFrame, queryIds: Column => Column,
      idCol: String, vecCol: String, k: Int, pool: Int = 50,
      lambdaTenths: Int = 7,
      poolOf: Option[DataFrame] = None): DataFrame = {
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths in [0,10], got $lambdaTenths")
    require(k <= pool, s"k=$k must be <= pool=$pool")
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = corpus.select(col(idCol), quantize(col(vecCol)).as("__v"))
      .withColumn("__nrm", normQ(col("__v")))
    val q2 = e.filter(queryIds(col(idCol)))
      .select(col(idCol).as("query_id"), col("__v").as("__qv"),
        col("__nrm").as("__qn"))
    val paired = poolOf match {
      case None => broadcast(q2).join(e, col("query_id") =!= col(idCol))
      case Some(p) =>
        // indexed-pool regime: the shortlist REPLACES the corpus scan
        e.join(broadcast(p.select(col("query_id"),
            col("neighbor_id").as(s"__sl_$idCol"))),
          col(idCol) === col(s"__sl_$idCol"))
          .drop(s"__sl_$idCol")
          .filter(col("query_id") =!= col(idCol))
          .join(broadcast(q2), Seq("query_id"))
    }
    val rel = paired
      .withColumn("__rel_fp",
        floor(dotQ(col("__qv"), col("__v")) /
          (col("__qn") * col("__nrm")) * lit(1e9)).cast(LongType))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("__rel_fp").desc, col(idCol))
    val cand = rel.withColumn("__pr", row_number().over(wp))
      .filter(col("__pr") <= pool)
      .select(col("query_id"), col(idCol).as("__cid"),
        col("__rel_fp"), col("__v"))
    val lam = lambdaTenths.toLong
    val out = cand
      .as[(Long, Long, Long, Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray // ≤ pool rows by construction
        val n = cs.length
        def dot(a: Seq[Long], b: Seq[Long]): Long = {
          var s = 0L; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }; s
        }
        val self = cs.map(c => dot(c._4, c._4))
        def simFp(i: Int, j: Int): Long =
          math.floor(dot(cs(i)._4, cs(j)._4).toDouble /
            (math.sqrt(self(i).toDouble) *
              math.sqrt(self(j).toDouble)) * 1e9).toLong
        val selected = scala.collection.mutable.ArrayBuffer[Int]()
        val maxSim = Array.fill(n)(Long.MinValue)
        val picked = Array.fill(n)(false)
        val res = scala.collection.mutable.ArrayBuffer[
          (Long, Int, Long, Long, Long)]()
        var rank = 1
        while (rank <= k && rank <= n) {
          var best = -1; var bestScore = Long.MinValue
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              val score =
                if (selected.isEmpty) lam * cs(i)._3
                else lam * cs(i)._3 - (10L - lam) * maxSim(i)
              // first pick: objective ties break by (rel desc, id asc)
              // — at λ=0 every first-pick score is 0, and the contract
              // (and the oracle's s1 `ORDER BY rel DESC, cid`) still
              // selects the most relevant candidate; at λ≥1 the score
              // is a bijection of rel, so this is the same order.
              // Later picks: ties to the lowest id, as the oracle's
              // step blocks do.
              val better = score > bestScore ||
                (score == bestScore && best >= 0 && {
                  if (selected.isEmpty)
                    cs(i)._3 > cs(best)._3 ||
                      (cs(i)._3 == cs(best)._3 && cs(i)._2 < cs(best)._2)
                  else cs(i)._2 < cs(best)._2
                })
              if (better) { best = i; bestScore = score }
            }
            i += 1
          }
          picked(best) = true
          res += ((qid, rank, cs(best)._2, cs(best)._3,
            if (selected.isEmpty) lam * cs(best)._3 else bestScore))
          selected += best
          var j = 0
          while (j < n) {
            if (!picked(j)) {
              val s2 = simFp(j, best)
              if (s2 > maxSim(j)) maxSim(j) = s2
            }
            j += 1
          }
          rank += 1
        }
        res.iterator
      }
      .toDF("query_id", "rank", "neighbor_id", "rel_fp", "mmr_fp")
    out
  }

  /** Greedy k-center coreset selection (farthest-first traversal,
    * Gonzalez '85): pick the corpus row most dissimilar to everything
    * selected so far, k times — the diversity-maximizing seed set a
    * pipeline uses to cover an embedding space (cluster seeding,
    * eval-panel picking, dedup canaries). The selected set is a
    * 2-approximation of the optimal k-center cover.
    *
    * Deterministic: similarity is the fixed-point cosine (quantized
    * dot, ·1e9 floor — the [[mmrTopK]] scale), the seed is the LOWEST
    * id (a stated convention, not an arbitrary first partition), and
    * every later pick minimizes (max-sim-to-selected ASC, id ASC) — a
    * total order, so the output is a pure function of the corpus.
    * Zero-norm vectors carry no direction and are dropped up front.
    *
    * Output: (rank 1-based, idCol, maxsim_fp) — maxsim_fp is the
    * fixed-point cosine to the nearest already-selected center at pick
    * time (the coverage radius trace; NULL for the seed). Fewer than k
    * rows when the usable corpus is smaller.
    *
    * 100 TB shape: k sequential passes, each a NARROW map over the
    * persisted quantized frame (one broadcast center literal folded
    * into the comparison) followed by a TakeOrdered(1) — no shuffle
    * anywhere, driver state exactly k (id, vector) rows. Sequential-in-k
    * is inherent to the greedy objective (each pick conditions the
    * next); k is a small constant by contract, as in [[mmrTopK]].
    * Lineage truncates every 32 picks (eager `localCheckpoint`), so
    * plan analysis stays O(1) per pick and coreset-realistic k
    * (hundreds+) completes without the driver drowning in plan
    * analysis (KCenterSpec pins k=64 against a driver reference). */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = graft.Scope.nested { sc =>
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    val idType = corpus.schema(idCol).dataType
    val e = sc.cache(corpus
      .select(col(idCol), quantize(col(vecCol)).as("__v"))
      .withColumn("__nrm", normQ(col("__v")))
      // zero-norm vectors carry no direction; a null id would poison
      // the seed convention (nulls sort first) and the =!= removals
      .filter(col("__nrm") > 0 && col(idCol).isNotNull), "kcenter: vectors")
    def simFp(cv: Seq[Long]): Column = {
      val cl = typedlit(cv)
      floor(dotQ(col("__v"), cl) / (col("__nrm") * normQ(cl)) * lit(1e9))
        .cast(LongType)
    }
    val seed = e.orderBy(col(idCol)).limit(1)
      .select(col(idCol), col("__v")).collect()
    val picked = scala.collection.mutable.ArrayBuffer[
      (Any, Seq[Long], Option[Long])]()
    seed.foreach(r => picked += ((r.get(0), r.getSeq[Long](1), None)))
    var cur = e.filter(seed.map(r => col(idCol) =!= lit(r.get(0)))
      .foldLeft(lit(true))(_ && _))
      .withColumn("__ms", lit(Long.MinValue))
    var rank = picked.size
    while (rank >= 1 && rank < k) {
      val lastVec = picked.last._2
      cur = cur.withColumn("__ms", greatest(col("__ms"), simFp(lastVec)))
      val next = cur.orderBy(col("__ms").asc, col(idCol).asc).limit(1)
        .select(col(idCol), col("__v"), col("__ms")).collect()
      if (next.isEmpty) rank = -1 // corpus exhausted
      else {
        val r = next.head
        picked += ((r.get(0), r.getSeq[Long](1), Some(r.getLong(2))))
        cur = cur.filter(col(idCol) =!= lit(r.get(0)))
        rank += 1
        // bound the plan: each pick chains one Project + one Filter
        // onto `cur`, so after k picks analysis is O(k) per round —
        // O(k²) total, and at coreset-realistic k (hundreds+) the
        // driver chokes on plan analysis before any data moves.
        // Truncate the lineage every 32 picks (eager localCheckpoint:
        // one bounded materialization of the running-max frame, which
        // only ever SHRINKS). KCenterSpec runs k=64 against a
        // driver-side reference across the truncation boundary.
        if (rank % 32 == 0)
          cur = graft.Scope.checkpoint(cur, "kcenter: running max")
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField(idCol, idType),
      org.apache.spark.sql.types.StructField("maxsim_fp", LongType)))
    val rows = picked.zipWithIndex.map { case ((id, _, ms), i) =>
      org.apache.spark.sql.Row(i + 1, id,
        ms.map(java.lang.Long.valueOf).orNull)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toList.asJava, schema)
  }

  /** RP-LSH signature projection shared by the three entry points below:
    * (idCol, __sig 64-bit signature, __v quantized vector, __nrm).
    *
    * `portable = true` signs the QUANTIZED vector (cast back to double)
    * instead of the raw one: the per-plane votes become sums of
    * integer-valued doubles — exact at any accumulation order (≪ 2^53),
    * so the signature is bit-reproducible in any engine from the same
    * fixed-point values (the s_ann_rplsh oracle re-derives it in SQL).
    * The 1e-6 quantization shifts a plane's sign only when the true
    * projection lies within 64·1e-6 of zero — the same noise class the
    * raw float votes have across summation orders; recall specs hold in
    * both modes. */
  private def sigFrame(df: DataFrame, idCol: String, vecCol: String,
      seed: Long, portable: Boolean = false): DataFrame = {
    val base = df
      .select(col(idCol),
        transform(col(vecCol), _.cast(DoubleType)).as("__dv"))
      .withColumn("__v", quantize(col("__dv")))
    val sigInput =
      if (portable) transform(col("__v"), _.cast(DoubleType))
      else col("__dv")
    base
      .withColumn("__sig",
        graft.functions.RpSig64.rp_sig64(sigInput, lit(seed)))
      .withColumn("__nrm", normQ(col("__v")))
      .drop("__dv")
  }

  /** Explode a signature frame into (idCol, __band, __bv) band rows —
    * the one place the band geometry (and its validity rule) lives. */
  private def bandRows(sigs: DataFrame, idCol: String,
      nBands: Int): DataFrame = {
    require(nBands > 0 && 64 % nBands == 0, s"64 % nBands != 0: $nBands")
    val bandBits = 64 / nBands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    sigs
      .withColumn("__band", explode(sequence(lit(0), lit(nBands - 1))))
      .withColumn("__bv",
        expr(s"shiftrightunsigned(__sig, __band * $bandBits) & ${mask}L"))
      .select(col(idCol), col("__band"), col("__bv"))
  }

  /** Random-hyperplane (sign-projection) LSH ANN: the second approximate
    * candidate generator beside IVF — fit-free (no KMeans, no centroid
    * state). Each vector gets a 64-bit signature (native RpSig64 — bit j
    * = sign of the projection onto Rademacher hyperplane j), banded into
    * `nBands` chunks of 64/nBands bits; a corpus vector is a candidate
    * for a query iff they share a band value, then exact quantized
    * cosine ranks the candidates. Per-bit collision prob is 1 − θ/π, so
    * `nBands` sets the recall/candidate-volume trade: the default 16×4
    * holds ≥0.9 recall@10 down to moderate similarity (cos ≈ 0.6
    * neighbors: miss prob (1−0.71⁴)¹⁶ ≈ 0.9%) at the cost of admitting
    * ~1−(15/16)¹⁶ ≈ 64% of UNRELATED vectors as candidates — fine when
    * the query side is small/broadcast; for corpus-scale self-join use
    * 8×8 bands (unrelated collision ≈ 3%), which still nails the
    * near-dup regime (cos ≥ 0.95 misses ≈ 1%). Signatures are a narrow
    * map, candidates a banded equi-join against the broadcast query
    * side; never an all-pairs stage. */
  def rpLshTopK(corpus: DataFrame, queryIds: Column => Column,
      idCol: String, vecCol: String, k: Int, nBands: Int = 16,
      seed: Long = 42L, portable: Boolean = false): DataFrame =
      graft.Scope.nested { sc =>
    // cached and filled: the banded join and the verify join both read it
    val e = sc.cache(sigFrame(corpus, idCol, vecCol, seed, portable),
      sigLabel)
    val banded = bandRows(e, idCol, nBands)
    val qBands = banded.filter(queryIds(col(idCol)))
      .select(col(idCol).as("query_id"), col("__band"), col("__bv"))
    val cand = broadcast(qBands)
      .join(banded, Seq("__band", "__bv"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol)).distinct()
    val qv = e.filter(queryIds(col(idCol)))
      .select(col(idCol).as("query_id"), col("__v").as("__qv"),
        col("__nrm").as("__qn"))
    val scored = cand.join(e, idCol).join(broadcast(qv), "query_id")
      .withColumn("cosine",
        dotQ(col("__qv"), col("__v")) / (col("__qn") * col("__nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol))
    graft.Scope.checkpoint(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"),
        col("cosine")), "rplsh: output")
  }

  private val sigLabel = "similarity: signatures"

  /** Corpus-scale cosine near-dup via RP-LSH banding — the SELF-JOIN
    * counterpart of `rpLshTopK`, with the scale-safe band geometry AS THE
    * DEFAULT rather than a doc comment: 8 bands × 8 bits admits ≈3% of
    * unrelated pairs as candidates (vs ~64% at rpLshTopK's query-side
    * 16×4 default, which is fine only because that side is broadcast)
    * while missing a cos ≥ 0.95 near-dup pair with prob ≈1%
    * ((1−0.9²·⁸)⁸ with per-bit collision 1−θ/π). Candidates come from a
    * banded equi-join on (band, band-value) — never an all-pairs stage —
    * then exact quantized cosine decides; the higher id of a confirmed
    * pair drops. Signature frame persists for the two passes, the small
    * drops list is checkpointed, the cache released (Dedup lifecycle). */
  def rpLshNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nBands: Int = 8, seed: Long = 42L)
      : DataFrame = graft.Scope.nested { sc =>
    val e = sc.cache(sigFrame(df.select(col(idCol).as("__id"),
        col(vecCol).as("__vec")), "__id", "__vec", seed), sigLabel)
    val banded = bandRows(e, "__id", nBands)
    val cand = banded.as("a").join(banded.as("b"),
      col("a.__band") === col("b.__band") &&
        col("a.__bv") === col("b.__bv") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("__ida"), col("b.__id").as("__idb"))
      .distinct()
    val drops = cand
      .join(e.select(col("__id"), col("__v").as("__va"),
        col("__nrm").as("__na")), col("__ida") === col("__id")).drop("__id")
      .join(e.select(col("__id"), col("__v").as("__vb"),
        col("__nrm").as("__nb")), col("__idb") === col("__id")).drop("__id")
      .filter(dotQ(col("__va"), col("__vb")) /
        (col("__na") * col("__nb")) >= threshold)
      .select(col("__idb").as("__drop")).distinct()
    df.join(graft.Scope.checkpoint(drops, "rplsh: drops"),
      col(idCol) === col("__drop"), "left_anti")
  }

  /** Candidate-pair count at a given band geometry — the observable the
    * 8×8-vs-16×4 trade is ABOUT; exposed so tests (and capacity
    * planning) can measure admitted-pair volume without running the
    * verify stage. */
  private[graft] def rpLshCandidateCount(df: DataFrame, idCol: String,
      vecCol: String, nBands: Int, seed: Long = 42L): Long = {
    val banded = bandRows(
      sigFrame(df.select(col(idCol).as("__id"), col(vecCol).as("__vec")),
        "__id", "__vec", seed), "__id", nBands)
    banded.as("a").join(banded.as("b"),
      col("a.__band") === col("b.__band") &&
        col("a.__bv") === col("b.__bv") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id"), col("b.__id")).distinct().count()
  }

  /** Cosine near-dup survivors: drop the higher id of any same-block pair
    * with cosine ≥ threshold. Blocked (label / cluster id) brute force;
    * with no natural block column use `cosineDedupKMeans`. */
  def cosineDedup(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double = 0.95): DataFrame = {
    val e = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
      quantize(col(vecCol)).as("__v"))
      .withColumn("__nrm", normQ(col("__v")))
    val drops = e.as("a").join(e.as("b"),
      col("a.__blk") === col("b.__blk") && col("a.__id") < col("b.__id"))
      .filter(dotQ(col("a.__v"), col("b.__v")) /
        (col("a.__nrm") * col("b.__nrm")) >= threshold)
      .select(col("b.__id").as("__drop")).distinct()
    df.join(drops, col(idCol) === col("__drop"), "left_anti")
  }

  /** Cosine near-dup at open scale — the block column doesn't exist, so
    * blocks are KMeansDet cells over the L2-normalized vectors (IVF-style
    * coarse quantization, a full-corpus fit: the same cells as
    * [[ivfTopK]]'s index, so the whole dedup re-derives in SQL — the
    * d_embed_cosine_kmeans oracle). Each vector is assigned to its
    * `nAssign` nearest cells (multi-probe), so a near-dup pair straddling
    * one cell boundary still shares a cell; candidate pairs exist only
    * within shared cells — never an all-pairs product. Pair volume
    * scales as Σ cell² instead of n², and cells are hash-partitionable.
    * The small drops list is materialized eagerly and the vector cache
    * released (same lifecycle as graft.operators.Dedup). */
  def cosineDedupKMeans(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCells: Int = 16, nAssign: Int = 2,
      fitIters: Int = 3, modelKey: Option[String] = None,
      modelStore: Option[LineageCache] = None): DataFrame =
      graft.Scope.nested { sc =>
    val spark = df.sparkSession
    val e = sc.cache(normalized(df, col(idCol).as("__id"), vecCol)
      .withColumn("__v", quantize(col("__dv")))
      .withColumn("__nrm", normQ(col("__v"))), "kmeans dedup: vectors")
    val d = vecDim(e, "__na")
    val cents = KMeansDet.canonicalCentroids(cellModel(df, idCol, vecCol,
        modelKey, modelStore, e, col("__id"), d, nCells, fitIters))
      .zipWithIndex.map { case (c, i) => (i, c) }.toSeq
    val centDf = spark.createDataFrame(cents).toDF("__cell", "__cvd")
      .withColumn("__cv", quantize(col("__cvd")))
      .withColumn("__cnrm", normQ(col("__cv")))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__ccos").desc, col("__cell"))
    val assigned = e.select(col("__id"), col("__v"), col("__nrm"))
      .crossJoin(broadcast(centDf))
      .withColumn("__ccos",
        dotQ(col("__v"), col("__cv")) / (col("__nrm") * col("__cnrm")))
      .withColumn("__crank", row_number().over(wc))
      .filter(col("__crank") <= nAssign)
      .select(col("__id"), col("__cell"), col("__v"), col("__nrm"))
    val drops = assigned.as("a").join(assigned.as("b"),
      col("a.__cell") === col("b.__cell") && col("a.__id") < col("b.__id"))
      .filter(dotQ(col("a.__v"), col("b.__v")) /
        (col("a.__nrm") * col("b.__nrm")) >= threshold)
      .select(col("b.__id").as("__drop")).distinct()
    df.join(graft.Scope.checkpoint(drops, "kmeans dedup: drops"),
      col(idCol) === col("__drop"), "left_anti")
  }
}
