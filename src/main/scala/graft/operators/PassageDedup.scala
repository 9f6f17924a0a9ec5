package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Passage-level (sub-document) duplication — repeated k-token windows
  * ACROSS the corpus, the signal behind suffix-array training-data
  * dedup (Lee et al., "Deduplicating Training Data Makes Language
  * Models Better", ACL '22 — public; their ExactSubstr uses a suffix
  * array, this is the distributed window-fingerprint equivalent).
  * Document-level dedup (exact/MinHash/SimHash) misses passages pasted
  * into otherwise-distinct documents; this operator counts them.
  *
  * 100 TB shape: windows are a narrow explode (the same aligned-slice
  * gram construction as [[Decontaminate]]); only a 32-byte digest per
  * window reaches the exchange, map-side combine collapses within-
  * partition repeats, and the `sampleMod` knob keeps 1/p of windows by
  * digest bucket (0-mod-p fingerprint selection as in Schleimer et
  * al., "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD '03 — public; p = 1 = exhaustive) when even
  * digests-per-window is too much shuffle — the
  * repeated-mass ESTIMATE is unbiased because selection is by content
  * hash, never by position. The windows frame is persisted across its
  * two consumers (count + join back) and released after materializing
  * the small per-doc stats, the [[Dedup]] signature-cache discipline.
  */
object PassageDedup {

  /** (doc, window-fingerprint) rows: every k-token window of the
    * normalized lowercased text, md5-digested; optionally winnowed to
    * digests ≡ 0 (mod sampleMod). */
  def windows(df: DataFrame, idCol: String, textCol: String, k: Int,
      sampleMod: Int = 1): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    // layout-decoupled (guide §2.5): the window-gram assembly + md5 is
    // the per-doc hot loop; no-op on an already-split input
    val w = Decontaminate.ngramRows(
      graft.PlanAudit.repartitionIfLayoutBound(
        df.select(col(idCol), col(textCol))),
      idCol, Decontaminate.tokens(col(textCol)), k)
      .select(col(idCol), md5(col("gram")).as("fp"))
    if (sampleMod <= 1) w
    else w.filter(
      conv(substring(col("fp"), 1, 8), 16, 10).cast(LongType)
        % sampleMod === 0)
  }

  /** Corpus-level repeated-passage table: one row per window fingerprint
    * occurring more than once — how many documents and occurrences. */
  def repeatedPassages(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, sampleMod: Int = 1): DataFrame =
    windows(df, idCol, textCol, k, sampleMod)
      .groupBy("fp")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)

  /** (doc, 1-based window start, fp) — the positioned form of
    * [[windows]] (no winnowing: removal needs every occurrence). Same
    * aligned-slice gram construction; posexplode keeps the start. */
  def positionedWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val toks = Decontaminate.tokens(col(textCol))
    val sliced = graft.PlanAudit.repartitionIfLayoutBound(df)
      .select(col(idCol) +: (0 until k).map { i =>
      val c = if (i == 0) toks
              else slice(toks, lit(i + 1), greatest(size(toks) - i, lit(0)))
      c.as(s"__g$i")
    }: _*)
    sliced
      .select(col(idCol),
        posexplode(arrays_zip((0 until k).map(i => col(s"__g$i")): _*))
          .as(Seq("__p", "__z")))
      .filter(col(s"__z.__g${k - 1}").isNotNull)
      .select(col(idCol), (col("__p") + 1).as("start"),
        md5(concat_ws(" ",
          (0 until k).map(i => col(s"__z.__g$i")): _*)).as("fp"))
  }

  /** REMOVAL form (Lee et al.'s ExactSubstr policy — duplicated spans
    * are dropped wherever they appear, all copies): every row of `df`
    * plus `scrubbed` = the normalized lowercased text with every token
    * covered by any corpus-repeated k-window removed, `n_tokens` and
    * `n_removed`. The scrubbed text is the NORMALIZED form — the same
    * identity the whole dedup family fingerprints; original casing and
    * spacing do not survive (by design: the output feeds training-data
    * pipelines keyed on that identity, not a display surface).
    *
    * 100 TB shape: windows and their digests are the usual narrow
    * explode; only digests reach the repeat-count exchange; covered
    * POSITIONS exist only for repeated windows, so the position
    * shuffle and the per-doc coverage sets are bounded by the corpus's
    * repeated-passage mass (per doc by its own length), never by
    * corpus size. Reconstruction is a per-row HOF filter — narrow. */
  def scrub(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = graft.Scope.nested { s =>
    val w = s.cache(positionedWindows(df, idCol, textCol, k), windowsLabel)
    val rep = w.groupBy("fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select("fp")
    scrubWith(df, idCol, textCol, k, w, rep)
  }

  /** Cross-corpus REMOVAL — decontamination that EDITS instead of
    * dropping (the ExactSubstr policy applied ACROSS frames): every
    * token of `df` covered by a k-window that appears anywhere in
    * `ref` (the eval/benchmark frame) is removed, and the rest of the
    * document survives — the right call for long documents that merely
    * QUOTE a benchmark item, where [[Decontaminate.flag]]'s doc-level
    * verdict would discard the whole doc. Same output contract as
    * [[scrub]] (`scrubbed`, `n_tokens`, `n_removed`).
    *
    * 100 TB shape: the reference side reduces to DISTINCT window
    * digests — an eval suite is benchmark-items-sized by contract, so
    * the digest set broadcasts into the corpus's positioned-window
    * join; covered positions exist only where contamination exists, so
    * the position shuffle and per-doc coverage sets are bounded by the
    * contaminated mass, never by corpus size. */
  def scrubAgainst(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refIdCol: String, refTextCol: String,
      k: Int = 8): DataFrame = graft.Scope.nested { s =>
    val w = s.cache(positionedWindows(df, idCol, textCol, k), windowsLabel)
    val evid = broadcast(
      positionedWindows(ref, refIdCol, refTextCol, k)
        .select("fp").distinct())
    scrubWith(df, idCol, textCol, k, w, evid)
  }

  /** The windows frame feeds several branches (repeat counts + per-doc
    * counts + coverage join), so each operator caches it in its nested
    * scope — filled before AQE's concurrent leaf stages read it
    * (t_curation_e2e profiled 2 concurrent 0.55 s duplicate window
    * passes unfilled) and released on return. */
  private val windowsLabel = "passagededup: windows"

  /** The shared removal core: coverage from `w ⋈ evid` (any frame of
    * `fp`s to remove), then the narrow hash-set reconstruction. The
    * coverage frame is eagerly checkpointed before the caller's scope
    * releases `w`. */
  private def scrubWith(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: DataFrame, evid: DataFrame): DataFrame = {
    Seq("scrubbed", "n_tokens", "n_removed", "__cov").foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column — rename it before scrub")
    }
    val cov0 = w.join(evid, "fp")
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + lit(k - 1)))
          .as("__pos"))
      .groupBy(idCol).agg(collect_set(col("__pos")).as("__cov"))
    val cov = graft.Scope.checkpoint(cov0, "passagededup: coverage")
    val tk = Decontaminate.tokens(col(textCol))
    df.join(cov, Seq(idCol), "left")
      .withColumn("__tk", tk)
      // kept positions via array_except (hash-set membership, one pass
      // over positions + coverage) with O(1) element_at back-mapping —
      // NOT an array_contains per token, which is O(|cov|·|tokens|)
      // per doc and quadratic on pathological all-repeated documents
      .withColumn("__kept",
        when(col("__cov").isNull || size(col("__tk")) === 0, col("__tk"))
          .otherwise(transform(
            array_except(sequence(lit(1), size(col("__tk"))),
              col("__cov")),
            p => element_at(col("__tk"), p))))
      .withColumn("scrubbed", concat_ws(" ", col("__kept")))
      .withColumn("n_tokens", size(col("__tk")).cast(LongType))
      .withColumn("n_removed",
        (size(col("__tk")) - size(col("__kept"))).cast(LongType))
      .drop("__cov", "__tk", "__kept")
  }

  /** Per-document repeated-passage mass: of the doc's (sampled) windows,
    * how many have a fingerprint seen elsewhere in the corpus (or again
    * in the same doc). `repeated_frac` is the filterable Lee-et-al-style
    * signal; docs with fewer than k tokens have no windows and a null
    * fraction. */
  def docStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, sampleMod: Int = 1): DataFrame =
      graft.Scope.nested { s =>
    val w = s.cache(windows(df, idCol, textCol, k, sampleMod), windowsLabel)
    val rep = w.groupBy("fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select("fp")
    val perDoc = w.groupBy(idCol).agg(count(lit(1)).as("n_windows"))
    val repPerDoc = w.join(rep, "fp")
      .groupBy(idCol).agg(count(lit(1)).as("n_repeated"))
    val stats = df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .join(repPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
      .withColumn("repeated_frac",
        when(col("n_windows") > 0,
          col("n_repeated").cast(DoubleType) / col("n_windows")))
    graft.Scope.checkpoint(stats, "passagededup: stats")
  }
}
