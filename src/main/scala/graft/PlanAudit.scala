package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan + layout audits.
  *
  * [[main]] is the dev tool: dump formatted physical plans for
  * representative gates.
  *
  * The layout helpers are the self-policing form of the round-14
  * ingest-layout finding: parquet splits at ROW-GROUP granularity, so a
  * big table written as one (or few) row groups serializes every narrow
  * stage that scans it — 3.6–8.6× observed on single-row-group sf1
  * files — while the PLAN looks perfectly parallel (Spark happily makes
  * byte-range partitions that all turn out empty except the ones
  * holding a row-group start). The partition count lies; only the
  * file footers know. Mirrors the un-keyed window guard
  * (`graft.window.warnBytes`): a named warning driven by session conf,
  * no job runs, strict mode raises.
  *
  * Conf: `graft.scan.warnBytes` (default 64 MB) — tables smaller than
  * this are never flagged; `graft.scan.strict` (default false) — raise
  * instead of warn. */
object PlanAudit {

  /** (rowGroups, totalBytes, files) of a parquet file/directory path —
    * footer metadata only, no data pages read. Row-group count is the
    * hard ceiling on scan parallelism for the path. */
  def parquetLayout(spark: SparkSession, path: String): (Long, Long, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val files =
      if (st.isFile) Array(st)
      else fs.listStatus(p).filter(s => s.isFile &&
        s.getPath.getName.endsWith(".parquet"))
    var groups = 0L
    var bytes = 0L
    files.foreach { f =>
      bytes += f.getLen
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(f.getPath, conf))
      try groups += r.getFooter.getBlocks.size() finally r.close()
    }
    (groups, bytes, files.length)
  }

  /** The layout rule: a table `bytes` big laid out as `groups` row
    * groups caps scan parallelism at `groups`; it should offer at least
    * min(cores, the split count the size calls for at
    * `maxPartitionBytes`). Returns the warning text when violated. */
  def narrowLayoutWarning(spark: SparkSession, path: String)
      : Option[String] = {
    val warnBytes = spark.conf
      .get("graft.scan.warnBytes", (64L << 20).toString).toLong
    val (groups, bytes, files) = parquetLayout(spark, path)
    if (bytes <= warnBytes) return None
    val maxSplit =
      spark.sessionState.conf.filesMaxPartitionBytes max 1L
    val needed = math.min(spark.sparkContext.defaultParallelism.toLong,
      (bytes + maxSplit - 1) / maxSplit)
    if (groups >= needed) None
    else Some(
      s"narrow-scan-layout: $path is $bytes bytes in $files file(s) " +
        s"but only $groups row group(s) — scans cap at $groups-way " +
        s"parallelism where the size calls for $needed; rewrite the " +
        "table with many row groups/files (parquet.block.size, or " +
        "repartition before write), or repartition after the scan " +
        "for compute-heavy stages")
  }

  private val warned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Warn (once per path per JVM) when a parquet table's layout caps
    * scan parallelism — the ingest-side hook, called by the gate table
    * loader. `graft.scan.strict=true` raises instead. Footer reads are
    * metadata-only and memoized; failures never break a read. */
  def warnIfNarrowLayout(spark: SparkSession, path: String): Unit = {
    if (!warned.add(path)) return
    try narrowLayoutWarning(spark, path).foreach { msg =>
      if (spark.conf.get("graft.scan.strict", "false").toBoolean)
        throw new IllegalArgumentException(s"strict: $msg")
      Console.err.println(s"[graft] WARN $msg")
    } catch {
      case e: IllegalArgumentException if e.getMessage != null &&
        e.getMessage.startsWith("strict:") => throw e
      case _: Throwable => () // an audit must never break ingest
    }
  }

  /** Decouple a compute-heavy stage's parallelism from its input's
    * file layout: when the frame's EFFECTIVE scan splits (plan
    * partitions, capped by the inputs' row-group count when the frame
    * is file-backed with fewer files than cores) fall below the
    * cluster's parallelism, repartition up; otherwise return the frame
    * unchanged (a 100 TB input already offers plenty of splits — never
    * shrink it). One extra round-robin exchange in the narrow case,
    * zero correctness impact.
    *
    * `bytesPerTask` encodes the CALLER's per-byte compute weight
    * (guide §2.5 applies to compute-heavy stages only — r17): 0 (the
    * default, for ms-per-row work like BPE byte encodes) targets full
    * cluster width regardless of input size; a positive value caps the
    * spread at one task per that many input bytes, so a LIGHT per-row
    * op over a small input stops paying `cores` tasks of scheduling
    * per downstream job (s_ann_pq's ADC ran 46 jobs × 32 tasks over a
    * 780 KB corpus at sf0.1). At scale the cap exceeds the cluster
    * width and the behavior is identical in both modes. */
  def repartitionIfLayoutBound(df: DataFrame,
      bytesPerTask: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val par0 = spark.sparkContext.defaultParallelism
    val par =
      if (bytesPerTask <= 0) par0
      else {
        val bytes = inputBytes(df)
        if (bytes <= 0) par0
        else math.min(par0.toLong, math.max(1L,
          (bytes + bytesPerTask - 1) / bytesPerTask)).toInt
      }
    val planParts =
      try df.rdd.getNumPartitions
      catch { case _: Throwable => return df }
    val effective =
      try {
        // a shuffle between scan and output resets parallelism — the
        // row-group cap binds only SCAN-narrow frames
        val hasShuffle = df.queryExecution.sparkPlan.collectFirst {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeLike => e
        }.isDefined
        val files = df.inputFiles
        // >= par files → at least one split each, layout can't bind
        if (hasShuffle || files.isEmpty || files.length >= par)
          planParts.toLong
        else {
          val conf = spark.sessionState.newHadoopConf()
          val groups = files.map { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f), conf))
            try r.getFooter.getBlocks.size().toLong finally r.close()
          }.sum
          math.min(planParts.toLong, groups)
        }
      } catch { case _: Throwable => planParts.toLong }
    if (effective < par) df.repartition(par) else df
  }

  /** Total bytes of the files backing a frame (0 when not file-backed
    * or unknowable) — the cheap input-volume estimate the fit-sizing
    * helpers use. */
  def inputBytes(df: DataFrame): Long =
    try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      df.inputFiles.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
    } catch { case _: Throwable => 0L }

  /** Data-proportional parallelism for small-model fit passes (guide
    * §2: partition count follows data volume — in BOTH directions). A
    * Lloyd/EM fit is a chain of tiny driver-loop jobs over a small
    * projected frame; inheriting a wide layout tuned for the heavy scan
    * stages makes every fit job pay `cores` tasks of pure scheduling
    * (s_ann_pq measured 122 jobs × 32 tasks at sf0.1 — ~0.4 s/job of
    * overhead on 2000 rows). One task per [[FitBytesPerTask]], capped
    * at the cluster parallelism; `bytes <= 0` (unknown) keeps the
    * cluster width — never shrink blind. */
  def fitParallelism(spark: SparkSession, bytes: Long): Int = {
    val par = spark.sparkContext.defaultParallelism max 1
    if (bytes <= 0) return par
    math.max(1L, math.min(par.toLong,
      (bytes + FitBytesPerTask - 1) / FitBytesPerTask)).toInt
  }

  /** Input bytes per task of a small-model fit pass. */
  private val FitBytesPerTask = 32L << 20

  /** Dev tool: dump formatted physical plans for representative gates. */
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val d = "/root/testdata/sf0.01"
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("a1_group_sum", "j1_join_broadcast_agg", "hb_velocity",
        "d_exact_dedup", "w1_moving_avg", "d_ngram_jaccard", "w6_ordinals",
        "a6_buckets", "d_embed_cosine_kmeans", "hb_linreg",
        "hb_series_pipeline", "s_ann_rplsh", "t_top_ngrams",
        "t_hash_split", "t_pack_layout", "t_decontaminate", "t_chunk",
        "d_passage_dedup", "t_bm25", "t_top_ngrams_by_lang",
        "a7_kmeans", "s2_rest_provider", "s5_localdata",
        "t_dsir_select", "t_vocab_encode",
        "t_lm_surprisal", "t_nb_classify", "t_select_topk",
        "t_shuffle_order", "t_rebalance_tokens",
        // r11: bin packing + sequence emitters
        "t_pack_bfd", "t_pack_emit", "t_sft_artifact",
        // r11: retrieval + preference pairing
        "s_lexical_topk", "s_hybrid_rrf", "t_dpo_pairs", "t_wordpiece",
        // r13: specials encode, exact substring dedup, SFT artifact,
        // exact spanning positions
        "t_bpe_specials", "d_substring_dedup", "hb_sft_chat",
        "t_position_ids_exact", "hb_fim_ids",
        // r14: rolling-digest dedup shape, tags families, trainable
        // langid, OData pushdown scan
        "d_substring_keepfirst", "hb_wordpiece_tags", "t_langid_nb",
        "s1_odata_provider")
    names.foreach { q =>
      println(s"===== $q =====")
      println(SparkEntry.queries(q)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
