package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operator family — the library surface (gates in
  * graft.queries.SimilarityGates/TextGates wrap these).
  *
  * All near-dup variants return the SURVIVOR set: the input minus rows
  * judged duplicates of a lower-id row. Pair-level output is available
  * via the `*Pairs`/candidates forms.
  *
  * Cache lifecycle: signature frames are (a) expensive to compute —
  * Catalyst happily inlines the HOF signature expressions into every
  * reference site (measured 128 copies of the token hashing in the
  * pre-barrier simhash plan) — and (b) referenced twice by the candidate
  * self-joins, which get no ReusedExchange. So every operator caches its
  * compact (id + fixed-width signature) frames in a nested
  * [[graft.Scope]] — filled once before the self-join's concurrent leaf
  * stages read them (r17: d_ngram_jaccard profiled 4 concurrent
  * recomputations of the same shingle+minhash pass unfilled) —
  * checkpoints its small drop/pair list, and releases the signatures on
  * return: composing several dedups in one job leaves nothing registered
  * in the CacheManager (asserted in DedupSpec). Scale design per
  * operator in SCALE.md.
  */
object Dedup {
  import graft.Scope

  /** Normalized-text digest (the exact-dedup identity). */
  def fingerprint(textCol: Column): Column =
    md5(lower(regexp_replace(textCol, "\\s+", " ")))

  /** Exact dedup: one row per distinct normalized text, keeping the
    * minimum id. Shuffles 32-byte digests, never documents. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Survivor form of [[exact]]: the input minus every row whose
    * normalized text already appears under a lower id — all columns kept.
    * One digest-partitioned window `min` (no orderBy → no sort, no join):
    * a single hash shuffle keyed on the 16-byte digest decides survival,
    * documents move once. */
  def exactSurvivors(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(fingerprint(col(textCol)))
    df.withColumn("__minId", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__minId"))
      .drop("__minId")
  }

  /** Distinct word n-gram shingle hashes for a text column — one
    * generated pass (graft.functions.ShingleHashes): each token hashed
    * once, windows combined polynomially, sort-deduped. Hash labels are
    * an internal detail (every consumer is label-invariant).
    * `portable = true` swaps the token hash from xxhash64 to the
    * poly+fmix64 fold a SQL engine replicates bit-for-bit (the
    * d_minhash_lsh oracle derives the same signatures in DuckDB). */
  def shingles(textCol: Column, n: Int = 3,
      portable: Boolean = false): Column =
    graft.functions.ShingleHashes.shingle_hashes(
      split(lower(textCol), "\\s+"), n, portable)

  /** |A∩B| / (|A|+|B|-|A∩B|) — one set operation instead of
    * intersect+union; whole-stage codegen's subexpression elimination
    * computes the intersection once. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    inter / (size(a) + size(b) - inter)
  }

  /** Deterministic minhash permutation parameters (private[graft]: the
    * d_minhash_lsh oracle unrolls the same constants into SQL). */
  private[graft] def perms(numPerms: Int): Seq[(Long, Long)] =
    (0 until numPerms).map { j =>
      val a = 0x9E3779B97F4A7C15L * (2 * j + 1) | 1L
      val b = 0xC2B2AE3D27D4EB4FL * (j + 1)
      (a, b)
    }

  /** (__id, blockCols…, shingle set) frame for a text column. The cheap
    * token pre-filter runs on the raw column — a filter on the shingle
    * column itself would be pushed below the projection and recompute
    * the shingles. */
  private def shingleFrame(df: DataFrame, textCol: String, idCol: String,
      extraCols: Seq[String], n: Int, shCol: String,
      portable: Boolean = false): DataFrame =
    // layout-decoupled (guide §2.5): the shingle pass is the per-doc
    // hot loop of every minhash consumer and must not inherit a
    // row-group-capped scan; no-op on an already-split input
    graft.PlanAudit.repartitionIfLayoutBound(df)
      .filter(size(split(lower(col(textCol)), "\\s+")) >= 1)
      .select((col(idCol).as("__id") +: extraCols.map(col)) :+
        shingles(col(textCol), n, portable).as(shCol): _*)

  /** (__id, signature) frame: the whole `numPerms`-perm minhash
    * signature in ONE pass over each shingle set via the native
    * MinHashSig expression (one generated double loop — the HOF form
    * walked the shingle array numPerms times and materialized numPerms
    * intermediate arrays per document). Callers cache THIS frame; band
    * rows are then cheap element_at projections. */
  private def sigFrame(sh: DataFrame, shCol: String,
      numPerms: Int): DataFrame = {
    val ps = perms(numPerms)
    sh.withColumn("__sig", graft.functions.MinHashSig.minhash_sig(
      col(shCol), ps.map(_._1), ps.map(_._2)))
      .select(col("__id"), col("__sig"))
  }

  /** Explode a (cached) signature frame into (__id, bidx, bhash) band
    * rows. `bhash` is the band's signature slice itself (a struct of
    * rowsPerBand longs), not a hash of it: equality on the slice is
    * exact (a band-hash collision would admit a spurious candidate —
    * harmless but wasteful), costs a few extra shuffle bytes per row,
    * and keeps the band key engine-portable (the d_minhash_lsh oracle
    * joins on the same slice columns). */
  private def bandFrame(sig: DataFrame, numPerms: Int,
      bands: Int): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val rowsPerBand = numPerms / bands
    sig.withColumn("__band", explode(array(
      (0 until bands).map(k => struct(lit(k).as("bidx"),
        struct((0 until rowsPerBand).map(r =>
          element_at(col("__sig"), k * rowsPerBand + r + 1)
            .as(s"e$r")): _*)
          .as("bhash"))): _*)))
      .select(col("__id"), col("__band.bidx"), col("__band.bhash"))
  }

  /** Distinct (id_a < id_b) pairs sharing at least one band hash —
    * candidate generation as an equi-join on (band, bandHash), never
    * an all-pairs product. */
  private def bandPairs(bandRows: DataFrame): DataFrame =
    bandRows.as("a").join(bandRows.as("b"),
      col("a.bidx") === col("b.bidx") && col("a.bhash") === col("b.bhash")
        && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()

  /** MinHash LSH candidate pairs: (id_a, id_b) with id_a < id_b that share
    * at least one of `bands` band hashes over a `numPerms`-perm signature. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      numPerms: Int = 64, bands: Int = 16,
      portable: Boolean = false): DataFrame = {
    // the shingle pass feeds sigFrame exactly once, so only the compact
    // signature frame (id + numPerms longs) needs caching for the
    // candidate self-join
    val sh = shingleFrame(df, textCol, idCol, Nil, 3, "__sh", portable)
    Scope.nested { s =>
      val sig = s.cache(sigFrame(sh, "__sh", numPerms), "dedup: signatures")
      Scope.checkpoint(bandPairs(bandFrame(sig, numPerms, bands)),
        "dedup: candidate pairs")
    }
  }

  /** VERIFIED MinHash near-dup pairs: (id_a < id_b) candidate pairs from
    * LSH banding whose exact shingle Jaccard ≥ threshold — the edge list
    * for transitive grouping (Components.connectedComponents) and the
    * drop evidence for [[minhashLsh]]. Eagerly materialized; signature
    * caches released.
    *
    * Memoised in the enclosing [[graft.Scope]] under the corpus's
    * CANONICALIZED analyzed plan + every signature/verify parameter —
    * the plan-identity scheme Spark's own CacheManager uses for cache
    * lookup — so a near-dup dedup and the clustering pass over the same
    * corpus within one output action (`dedup minhash` + `cluster
    * minhash`, or a survivors query next to a components query) pay for
    * ONE shingle→signature→band→verify computation. Only the VERIFIED
    * edge list is memoised: its size is bounded by the corpus's true
    * near-dup rate, never by band-collision volume. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, numPerms: Int = 64,
      bands: Int = 16, portable: Boolean = false): DataFrame = {
    val key = ("minhashPairs", df.queryExecution.analyzed.canonicalized,
      textCol, idCol, threshold, numPerms, bands, portable)
    Scope.memo(key)(computeMinhashPairs(df, textCol, idCol, threshold,
      numPerms, bands, portable))
  }

  private def computeMinhashPairs(df: DataFrame, textCol: String,
      idCol: String, threshold: Double, numPerms: Int,
      bands: Int, portable: Boolean): DataFrame = Scope.nested { s =>
    val sh = s.cache(shingleFrame(df, textCol, idCol, Nil, 3, "__sh",
      portable), "dedup: shingles")
    val sig = s.cache(sigFrame(sh, "__sh", numPerms), "dedup: signatures")
    // size-ratio prune: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs with
    // mismatched set sizes cannot reach the threshold — cheap integer
    // comparisons ahead of the O(|A|+|B|) intersect
    val pairs = bandPairs(bandFrame(sig, numPerms, bands))
      .join(sh.as("sa"), col("id_a") === col("sa.__id"))
      .join(sh.as("sb"), col("id_b") === col("sb.__id"))
      .filter(size(col("sa.__sh")) >= size(col("sb.__sh")) * threshold &&
        size(col("sb.__sh")) >= size(col("sa.__sh")) * threshold &&
        jaccard(col("sa.__sh"), col("sb.__sh")) >= threshold)
      // jacc_fp makes the edge list an EXPLAINABLE artifact (which doc
      // matched what, how strongly) at no extra pass — fixed point so
      // the d_minhash_pairs oracle compares it exactly
      .withColumn("jacc_fp",
        floor(jaccard(col("sa.__sh"), col("sb.__sh")) * lit(1e9))
          .cast("long"))
      .select(col("id_a"), col("id_b"), col("jacc_fp"))
    Scope.checkpoint(pairs, "dedup: verified pairs")
  }

  /** VERIFIED cross-frame MinHash near-dup pairs: (id_l, id_r) with
    * id_l from `left`, id_r from `right`, sharing at least one band hash
    * and with exact shingle Jaccard ≥ threshold. The two-frame form of
    * [[minhashPairs]] — the primitive behind FUZZY decontamination
    * (corpus × benchmark eval set: near-verbatim contamination that
    * exact n-gram overlap misses) and INCREMENTAL dedup (new batch ×
    * already-ingested corpus: only cross pairs matter, the reference
    * side is already deduped). 100 TB shape: both sides reduce to
    * narrow signature frames; candidates are a (band, bandHash)
    * equi-join — when one side is small (a benchmark) AQE broadcasts
    * it, when both are large it is a plain shuffled equi-join — and
    * only candidate ids reach the verify. Never an all-pairs product. */
  def minhashPairsAgainst(left: DataFrame, right: DataFrame,
      textCol: String, leftId: String, rightId: String,
      threshold: Double = 0.5, numPerms: Int = 64,
      bands: Int = 16, portable: Boolean = false,
      refStore: Option[(graft.cache.LineageCache, String)] = None)
      : DataFrame = Scope.nested { s =>
    val shL = s.cache(shingleFrame(left, textCol, leftId, Nil, 3, "__sh",
      portable), "dedup: shingles L")
    // Incremental-ingest tier: with `refStore = (cache, refKey)` set,
    // the REFERENCE side's shingle and signature frames persist as
    // parquet artifacts under LineageCache content keys (the cell-model
    // discipline, Similarity.fitModels) — a later session dedups a
    // new batch against yesterday's corpus by scanning the stored
    // frames instead of re-shingling/re-signing the whole reference.
    // The caller owns key hygiene: change refKey when the reference
    // corpus changes. Artifact size is one compact row per reference
    // doc (shingle digests + 64 sig longs) — disk-bounded, never
    // driver-bounded.
    // The key folds in EVERY parameter the stored artifact was computed
    // from — textCol, the reference id column, the shingle size, perms,
    // portability — not just refKey: reusing a refKey with a different
    // text column must MISS (recompute), never silently serve shingles
    // computed from the wrong column. refKey itself still covers corpus
    // identity (caller-owned hygiene, as documented above).
    def stored(part: String)(compute: => DataFrame): DataFrame =
      refStore match {
        case Some((lc, refKey)) => lc.getOrCompute(lc.key("minhashref",
          Seq(refKey, part, textCol, rightId, "shingle=3",
            numPerms.toString, portable.toString)))(compute)
        case None => compute
      }
    val shR = s.cache(stored("shingles")(
      shingleFrame(right, textCol, rightId, Nil, 3, "__sh", portable)),
      "dedup: shingles R")
    val sigL = s.cache(sigFrame(shL, "__sh", numPerms), "dedup: signatures L")
    val sigR = s.cache(stored("sigs")(sigFrame(shR, "__sh", numPerms)),
      "dedup: signatures R")
    val bandL = bandFrame(sigL, numPerms, bands)
    val bandR = bandFrame(sigR, numPerms, bands)
    val cand = bandL.as("a").join(bandR.as("b"),
      col("a.bidx") === col("b.bidx") && col("a.bhash") === col("b.bhash"))
      .select(col("a.__id").as("id_l"), col("b.__id").as("id_r"))
      .distinct()
    val pairs = cand
      .join(shL.as("sa"), col("id_l") === col("sa.__id"))
      .join(shR.as("sb"), col("id_r") === col("sb.__id"))
      .filter(size(col("sa.__sh")) >= size(col("sb.__sh")) * threshold &&
        size(col("sb.__sh")) >= size(col("sa.__sh")) * threshold &&
        jaccard(col("sa.__sh"), col("sb.__sh")) >= threshold)
      .select(col("id_l"), col("id_r"))
    Scope.checkpoint(pairs, "dedup: verified pairs")
  }

  /** Every `corpus` row plus a `neardup` flag: true iff the row is a
    * verified MinHash near-dup (Jaccard ≥ threshold) of ANY `reference`
    * row — the fuzzy twin of Decontaminate.flag. The removal policy
    * stays with the caller (`filter(!col(out))`), like the exact form. */
  def flagNearDupsAgainst(corpus: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      numPerms: Int = 64, bands: Int = 16, portable: Boolean = false,
      out: String = "neardup",
      refStore: Option[(graft.cache.LineageCache, String)] = None)
      : DataFrame = {
    Seq(out, "__nd_hit").foreach { c =>
      require(!corpus.columns.contains(c),
        s"corpus already has a '$c' column — rename it first")
    }
    val hits = minhashPairsAgainst(corpus, reference, textCol, idCol,
      idCol, threshold, numPerms, bands, portable, refStore)
      .select(col("id_l").as("__nd_id")).distinct()
    corpus
      .join(hits.withColumn("__nd_hit", lit(true)),
        col(idCol) === col("__nd_id"), "left")
      .withColumn(out, coalesce(col("__nd_hit"), lit(false)))
      .drop("__nd_hit", "__nd_id")
  }

  /** MinHash LSH near-dup survivors: drop the higher id of every candidate
    * pair whose exact shingle Jaccard ≥ threshold. `portable` picks the
    * token hasher (see shingles). For CLUSTERS instead of survivors
    * (pair dropping is not transitive grouping) feed [[minhashPairs]]
    * to Components.connectedComponents. */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, numPerms: Int = 64,
      bands: Int = 16, portable: Boolean = false): DataFrame = {
    val drops = minhashPairs(df, textCol, idCol, threshold, numPerms,
      bands, portable)
      .select(col("id_b").as("__drop")).distinct()
    df.join(drops, col(idCol) === col("__drop"), "left_anti")
  }

  /** 64-bit SimHash signature: per-row bit votes over the distinct token
    * hash set — a narrow map, no explode, no shuffle, one generated
    * pass (graft.functions.SimHash64; the HOF form ran 64 interpreted
    * `aggregate` folds per document).
    *
    * `portable = true` swaps the token hash from Spark's xxhash64 to the
    * polynomial RollingHash family: marginally weaker mixing, but every
    * step is then plain integer arithmetic any engine reproduces
    * bit-for-bit (the d_simhash DuckDB oracle does exactly that) — the
    * same cross-engine-reproducibility property as KMeansDet. Use it
    * when signatures must be re-derivable outside Spark, e.g. an
    * incremental corpus index maintained by a second engine; the default
    * stays xxhash64.
    */
  def simhash(textCol: Column, portable: Boolean = false): Column = {
    val tokHash: Column => Column =
      if (portable)
        (c: Column) => fmix64(graft.functions.RollingHash.rolling_hash(c))
      else (c: Column) => xxhash64(c)
    graft.functions.SimHash64.simhash64(array_distinct(
      transform(split(lower(textCol), "\\s+"), tokHash)))
  }

  /** MurmurHash3's 64-bit finalizer over plain Column ops (wrapping
    * long multiply — ANSI off — xor, unsigned shifts; all codegen'd).
    * The raw polynomial hash is NOT enough for simhash: two tokens with
    * a shared prefix differ by ~(c1-c2) in the final value, so their
    * high bits nearly coincide and sequentially-numbered vocabulary
    * ("item1"/"item2") collapses to tiny hamming distances — planted-
    * noise docs started merging. fmix64 avalanches every input bit to
    * every output bit while staying engine-portable: the d_simhash
    * oracle replicates it in HUGEINT with a split multiply. */
  private[operators] def fmix64(c: Column): Column = {
    val s1 = c.bitwiseXOR(shiftrightunsigned(c, 33))
    val m1 = s1 * lit(0xFF51AFD7ED558CCDL)
    val s2 = m1.bitwiseXOR(shiftrightunsigned(m1, 33))
    val m2 = s2 * lit(0xC4CEB9FE1A85EC53L)
    m2.bitwiseXOR(shiftrightunsigned(m2, 33))
  }

  /** SimHash near-dup survivors: hamming distance ≤ maxHamming, candidates
    * via 16-bit chunk banding (pigeonhole-complete for maxHamming ≤ 3 with
    * 4 chunks). `portable` picks the token hasher (see simhash). */
  def simhashDedup(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, portable: Boolean = false): DataFrame =
      Scope.nested { s =>
    // the signature is one expression over one tokenization pass now —
    // only the compact (id, signature) frame needs caching for the
    // chunk self-join
    val sim = s.cache(graft.PlanAudit.repartitionIfLayoutBound(df)
      .select(col(idCol).as("__id"),
        simhash(col(textCol), portable).as("__simhash")), "dedup: simhashes")
    val chunks = sim.withColumn("__c", explode(array(
      (0 until 4).map(k => struct(lit(k).as("cidx"),
        shiftright(col("__simhash"), 16 * k).bitwiseAND(lit(0xFFFFL))
          .as("chash"))): _*)))
      .select(col("__id"), col("__simhash"), col("__c.cidx"), col("__c.chash"))
    val drops = chunks.as("a").join(chunks.as("b"),
      col("a.cidx") === col("b.cidx") && col("a.chash") === col("b.chash")
        && col("a.__id") < col("b.__id"))
      .filter(bit_count(col("a.__simhash").bitwiseXOR(col("b.__simhash")))
        <= maxHamming)
      .select(col("b.__id").as("__drop")).distinct()
    df.join(Scope.checkpoint(drops, "dedup: drops"),
      col(idCol) === col("__drop"), "left_anti")
  }

  /** Exact n-gram Jaccard survivors. Candidate pairs come from MinHash
    * LSH banding over the SAME shingle sets — never a quadratic
    * self-join — then `blockCols` equality, a size-ratio prune and the
    * exact Jaccard verify run on the candidate pairs only. With the
    * default r = numPerms/bands = 2 rows per band and 32 bands, a pair
    * at exactly the 0.6 threshold is missed with probability
    * (1-t²)^32 ≈ 6e-7; above it, vanishingly less — survivor sets match
    * the exhaustive `ngramJaccardBlocked` (asserted in DedupSpec).
    * Scale ceiling: that miss probability is per candidate pair, so the
    * expected misses grow with corpus size — at ~10⁶ boundary-threshold
    * pairs raise `bands` (miss prob at threshold t is (1-t^(perms/bands))
    * ^bands; 64 perms/64 bands ≈ 2e-14 at t=0.6). */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], threshold: Double = 0.6,
      n: Int = 3, numPerms: Int = 64, bands: Int = 32): DataFrame =
      Scope.nested { s =>
    val sh = s.cache(shingleFrame(df, textCol, idCol, blockCols, n, "__g"),
      "dedup: shingles")
    val sig = s.cache(sigFrame(sh, "__g", numPerms), "dedup: signatures")
    val blockEq = blockCols.map(c => col(s"sa.$c") === col(s"sb.$c"))
      .foldLeft(lit(true))(_ && _)
    val sizePrune =
      size(col("sa.__g")) >= size(col("sb.__g")) * threshold &&
        size(col("sb.__g")) >= size(col("sa.__g")) * threshold
    val drops = bandPairs(bandFrame(sig, numPerms, bands))
      .join(sh.as("sa"), col("id_a") === col("sa.__id"))
      .join(sh.as("sb"), col("id_b") === col("sb.__id"))
      .filter(blockEq && sizePrune &&
        jaccard(col("sa.__g"), col("sb.__g")) >= threshold)
      .select(col("id_b").as("__drop")).distinct()
    df.join(Scope.checkpoint(drops, "dedup: drops"),
      col(idCol) === col("__drop"), "left_anti")
  }

  /** Exhaustive blocked n-gram Jaccard — the quadratic-within-block
    * reference implementation. Correct at any block size but O(block²)
    * pairs; kept as the ground truth `ngramJaccard` is asserted against
    * in DedupSpec. Use `ngramJaccard` (LSH candidates) at scale. */
  def ngramJaccardBlocked(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], threshold: Double = 0.6,
      n: Int = 3): DataFrame = Scope.nested { s =>
    val g = s.cache(shingleFrame(df, textCol, idCol, blockCols, n, "__g"),
      "dedup: shingles")
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.__id") < col("b.__id")
    val sizePrune =
      size(col("a.__g")) >= size(col("b.__g")) * threshold &&
        size(col("b.__g")) >= size(col("a.__g")) * threshold
    val drops = g.as("a").join(g.as("b"), cond)
      .filter(sizePrune && jaccard(col("a.__g"), col("b.__g")) >= threshold)
      .select(col("b.__id").as("__drop")).distinct()
    df.join(Scope.checkpoint(drops, "dedup: drops"),
      col(idCol) === col("__drop"), "left_anti")
  }
}
