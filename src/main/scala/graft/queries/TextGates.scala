package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Sampling
import org.apache.spark.sql.types._
import Gate.t

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language-ID, quality scoring, token
  * counting, fingerprinting, exact dedup). All are pure codegen'd
  * expression pipelines: no UDFs, no shuffles except the dedup groupBy.
  */
object TextGates {

  // Shared normalizer: collapse whitespace runs to single spaces.
  // (DuckDB regexp_replace needs the 'g' flag for replace-all parity.)
  private def normText = regexp_replace(col("text"), "\\s+", " ")
  private[queries] val normSql = "regexp_replace(text, '\\s+', ' ', 'g')"

  /** Null-safe array size: with ANSI off Spark's legacy `size(null)`
    * is -1 while DuckDB's `len(NULL)` is NULL, so a null `text` would
    * make a token count -1 here and NULL in the oracle (mislabeling the
    * doc 'too_short' / skewing token sums). Mapping the -1 sentinel
    * back to null restores oracle parity for null inputs; non-null
    * arrays are untouched. */
  private def sizeNS(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = size(arr)
    when(s >= 0, s)
  }

  /** The C4-style quality signals, shared by t_c4_filter and
    * t_curation_e2e so the two gates can never drift: whitespace token
    * count, stopword hits, duplicate-token mass. */
  private def c4Signals: (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val tk = split(lower(normText), "\\s+")
    val nTok = sizeNS(tk)
    val nStop = sizeNS(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|an|and|or|of|to|in|is|it)\\b"), lit(0)))
    val dupFrac = (nTok - sizeNS(array_distinct(tk))).cast(DoubleType) / nTok
    (nTok, nStop, dupFrac)
  }

  /** The decontamination CTE chain (bucket → tokens → 4-grams → eval
    * grams → hit set), shared by the t_decontaminate and t_curation_e2e
    * oracles. Ends with `hits(doc_id)` = corpus docs sharing a 4-gram
    * with the 5%-sample eval set. */
  private lazy val deconCtesSql: String =
    """bkt AS (
      |  SELECT doc_id, text,
      |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':eval'), 1, 8)
      |      AS BIGINT) % 10000 AS b
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, b,
      |    string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
      |  FROM bkt),
      |grams AS (
      |  SELECT doc_id, b,
      |    unnest(list_transform(range(1, greatest(len(tk) - 3, 0) + 1),
      |      i -> array_to_string(tk[i:i+3], ' '))) AS gram
      |  FROM tok),
      |eg AS (SELECT DISTINCT gram FROM grams WHERE b < 500),
      |hits AS (
      |  SELECT DISTINCT g.doc_id
      |  FROM grams g JOIN eg USING (gram) WHERE g.b >= 500)""".stripMargin

  /** The t_pipeline_e2e oracle — exact dedup → 80/10/10 salted hash
    * split (salt s1) → train-shard packing (budget 4096, 8 shards), all
    * from first principles. Shared with the `.hb`-surface twin
    * `hb_dedup_pipeline` in HbGates, whose program compiles to the same
    * operator chain keyed on the doc_id index. */
  private[queries] lazy val pipelineOracleSql: String =
    s"""WITH win AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents
       |  GROUP BY md5(lower($normSql))),
       |trn AS (
       |  SELECT d.doc_id, d.n_chars
       |  FROM documents d JOIN win USING (doc_id)
       |  WHERE CAST('0x' || SUBSTR(md5(CAST(d.doc_id AS VARCHAR) || ':s1'), 1, 8)
       |      AS BIGINT) % 10000 < 8000),
       |s AS (
       |  SELECT doc_id, n_chars,
       |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
       |      AS BIGINT) % 8 AS shard
       |  FROM trn),
       |c AS (
       |  SELECT doc_id, shard, n_chars,
       |    COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
       |  FROM s)
       |SELECT doc_id, shard,
       |  CAST(bef // 4096 AS BIGINT) AS seq_first,
       |  CAST((bef + greatest(n_chars, 1) - 1) // 4096 AS BIGINT) AS seq_last,
       |  CAST(bef % 4096 AS BIGINT) AS seq_offset
       |FROM c ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_dsir_select oracle — DSIR importance selection of the
    * 18-source raw slice toward the src0/src1 target slice, replaying
    * the fixed-point likelihood-ratio score (operators.Dsir) exactly:
    * IEEE-identical double products/division, floor at 1e-6, integer
    * per-doc sum, rank by (score desc, id). Shared with the
    * configuration-surface twin `hb_dsir_cfg` in HbGates. */
  private[queries] lazy val dsirOracleSql: String =
    """WITH rtok AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
      |  FROM documents WHERE source NOT IN ('src0', 'src1')),
      |ttok AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
      |  FROM documents WHERE source IN ('src0', 'src1')),
      |rc AS (SELECT tok, count(*) AS cr FROM rtok GROUP BY tok),
      |tc AS (SELECT tok, count(*) AS ct FROM ttok GROUP BY tok),
      |model AS (
      |  SELECT coalesce(rc.tok, tc.tok) AS tok,
      |    coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
      |  FROM rc FULL OUTER JOIN tc ON rc.tok = tc.tok),
      |st AS (SELECT SUM(cr) AS rawtot, SUM(ct) AS tgttot,
      |         COUNT(*) AS v FROM model),
      |tf AS (SELECT doc_id, tok, count(*) AS tf
      |       FROM rtok GROUP BY doc_id, tok),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(FLOOR(tf.tf *
      |      (((2.0 * m.ct + 1.0) * (2.0 * st.rawtot + st.v)) /
      |       ((2.0 * m.cr + 1.0) * (2.0 * st.tgttot + st.v)))
      |      * 1e6) AS BIGINT) AS term_fp
      |  FROM tf JOIN model m USING (tok), st),
      |agg AS (SELECT doc_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp
      |        FROM sc GROUP BY doc_id),
      |ranked AS (
      |  SELECT d.doc_id, d.source, a.score_fp,
      |    ROW_NUMBER() OVER (ORDER BY a.score_fp DESC NULLS LAST,
      |      d.doc_id ASC) AS rk
      |  FROM documents d LEFT JOIN agg a USING (doc_id)
      |  WHERE d.source NOT IN ('src0', 'src1')),
      |n AS (SELECT CEIL(COUNT(*) * 0.2) AS keep FROM ranked)
      |SELECT doc_id, source, score_fp FROM ranked, n
      |WHERE rk <= n.keep
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_vocab_encode oracle — top-64 frequency vocabulary ranked by
    * the (count DESC, token ASC) total order, every document encoded as
    * its id sequence (OOV → 0). Shared with the `.hb`-surface twin
    * `hb_encode` in HbGates (`encode text 64` on the doc_id index
    * compiles to the same Vocab.fitEncode call). */
  private[queries] lazy val vocabOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok,
      |    generate_subscripts(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), 1) AS pos
      |  FROM documents),
      |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
      |vocab AS (
      |  SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS id
      |  FROM cnt ORDER BY n DESC, tok ASC LIMIT 64),
      |enc AS (
      |  SELECT t.doc_id,
      |    list(CAST(coalesce(v.id, 0) AS INTEGER) ORDER BY t.pos) AS token_ids
      |  FROM tok t LEFT JOIN vocab v USING (tok)
      |  GROUP BY t.doc_id)
      |SELECT d.doc_id,
      |  array_to_string(e.token_ids, ' ') AS token_ids_str
      |FROM documents d LEFT JOIN enc e USING (doc_id)
      |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin

  /** The hb_emit_packed oracle — the whole `encode → emit packed`
    * statement chain: the 64-token vocab ids per doc (OOV → 0, the
    * `encode` contract), the spanning cumsum placement (salt `pack`,
    * the Engine default), per-sequence list-slice portions, padding,
    * and the new-document start offsets. */
  private[queries] lazy val hbEmitPackedOracleSql: String =
    hbEmitPackedCtesSql +
      """
      |SELECT shard, seq, n_docs, n_tokens,
      |  CASE WHEN n_tokens = 512 THEN raw
      |    ELSE raw || repeat(' 0', 512 - n_tokens) END AS input_ids,
      |  doc_starts
      |FROM seqs
      |ORDER BY shard ASC NULLS FIRST, seq ASC NULLS FIRST""".stripMargin

  /** The hb_emit_positions oracle — the same chain, final select =
    * the per-cell position arithmetic over the doc_starts list, EXACT
    * (r13): a leading mid-document continuation adds its true
    * in-document offset `fdo` instead of restarting at 0. */
  private[queries] lazy val hbEmitPositionsOracleSql: String =
    hbEmitPackedCtesSql +
      """
      |SELECT shard, seq,
      |  array_to_string(list_transform(range(0, 512), i ->
      |    CASE WHEN i >= n_tokens THEN 0
      |      ELSE i - list_max(list_filter([CAST(0 AS BIGINT)] ||
      |        (CASE WHEN doc_starts = '' THEN CAST([] AS BIGINT[])
      |          ELSE list_transform(string_split(doc_starts, ' '),
      |            x -> CAST(x AS BIGINT)) END),
      |        x -> x <= i))
      |      + (CASE WHEN list_max(list_filter([CAST(0 AS BIGINT)] ||
      |          (CASE WHEN doc_starts = '' THEN CAST([] AS BIGINT[])
      |            ELSE list_transform(string_split(doc_starts, ' '),
      |              x -> CAST(x AS BIGINT)) END),
      |          x -> x <= i)) = 0 THEN fdo ELSE 0 END)
      |    END), ' ') AS position_ids
      |FROM seqs
      |ORDER BY shard ASC NULLS FIRST, seq ASC NULLS FIRST""".stripMargin

  /** The shared `encode -> emit packed` CTE chain through `seqs`. */
  private[queries] lazy val hbEmitPackedCtesSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok,
      |    generate_subscripts(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), 1) AS pos
      |  FROM documents),
      |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
      |vocab AS (
      |  SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS id
      |  FROM cnt ORDER BY n DESC, tok ASC LIMIT 64),
      |ids AS (
      |  SELECT t.doc_id,
      |    list(CAST(coalesce(v.id, 0) AS INTEGER) ORDER BY t.pos) AS idl
      |  FROM tok t LEFT JOIN vocab v USING (tok)
      |  GROUP BY t.doc_id),
      |d0 AS (
      |  SELECT doc_id, idl, CAST(len(idl) AS BIGINT) AS n,
      |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
      |      AS BIGINT) % 4 AS shard
      |  FROM ids),
      |c AS (
      |  SELECT doc_id, idl, n, shard,
      |    CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS bef
      |  FROM d0),
      |parts AS (
      |  SELECT shard, doc_id, idl, n, bef, k AS seq,
      |    greatest(k * 512, bef) AS s,
      |    least((k + 1) * 512, bef + n) AS e
      |  FROM c, unnest(range(bef // 512, (bef + n - 1) // 512 + 1)) AS t(k)),
      |pids AS (
      |  SELECT shard, seq, s, e, bef,
      |    array_to_string(idl[CAST(s - bef + 1 AS INTEGER):CAST(e - bef AS INTEGER)], ' ')
      |      AS portion
      |  FROM parts),
      |seqs AS (
      |  SELECT shard, seq, COUNT(*) AS n_docs,
      |    CAST(SUM(e - s) AS INTEGER) AS n_tokens,
      |    string_agg(portion, ' ' ORDER BY s) AS raw,
      |    COALESCE(string_agg(CASE WHEN s = bef
      |        THEN CAST(s - seq * 512 AS VARCHAR) END,
      |      ' ' ORDER BY s), '') AS doc_starts,
      |    greatest(0, seq * 512 - MIN(bef)) AS fdo
      |  FROM pids GROUP BY shard, seq)""".stripMargin

  /** The hb_emit_aligned oracle — `encode → emit aligned`: the same
    * 64-token vocab ids, then the best-fit-decreasing placement
    * recursion (salt `pack`, MATERIALIZED input — see
    * [[sftArtifactOracleSql]]) and the per-bin concatenation. */
  private[queries] lazy val hbEmitAlignedOracleSql: String =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok,
      |    generate_subscripts(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), 1) AS pos
      |  FROM documents),
      |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
      |vocab AS (
      |  SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS id
      |  FROM cnt ORDER BY n DESC, tok ASC LIMIT 64),
      |ids AS MATERIALIZED (
      |  SELECT t.doc_id,
      |    array_to_string(list(CAST(coalesce(v.id, 0) AS INTEGER)
      |      ORDER BY t.pos), ' ') AS ids_str,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM tok t LEFT JOIN vocab v USING (tok)
      |  GROUP BY t.doc_id),
      |dd AS MATERIALIZED (
      |  SELECT doc_id, ids_str, n,
      |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
      |      AS BIGINT) % 4 AS shard,
      |    ROW_NUMBER() OVER (PARTITION BY
      |      CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
      |        AS BIGINT) % 4
      |      ORDER BY n DESC, doc_id) AS rn
      |  FROM ids),
      |fd AS (
      |  SELECT shard, CAST(0 AS BIGINT) AS rn,
      |    CAST([] AS BIGINT[]) AS rems,
      |    CAST(NULL AS BIGINT) AS abin, CAST(NULL AS BIGINT) AS aoff
      |  FROM (SELECT DISTINCT shard FROM dd)
      |  UNION ALL
      |  SELECT dd.shard, fd.rn + 1,
      |    CASE WHEN list_min(list_filter(fd.rems, r -> r >= dd.n)) IS NULL
      |      THEN list_append(fd.rems, 512 - dd.n)
      |      ELSE fd.rems[:list_position(fd.rems, list_min(
      |          list_filter(fd.rems, r -> r >= dd.n))) - 1]
      |        || [list_min(list_filter(fd.rems, r -> r >= dd.n)) - dd.n]
      |        || fd.rems[list_position(fd.rems, list_min(
      |          list_filter(fd.rems, r -> r >= dd.n))) + 1:]
      |    END,
      |    CASE WHEN list_min(list_filter(fd.rems, r -> r >= dd.n)) IS NULL
      |      THEN CAST(len(fd.rems) AS BIGINT)
      |      ELSE CAST(list_position(fd.rems, list_min(
      |        list_filter(fd.rems, r -> r >= dd.n))) - 1 AS BIGINT)
      |    END,
      |    CASE WHEN list_min(list_filter(fd.rems, r -> r >= dd.n)) IS NULL
      |      THEN CAST(0 AS BIGINT)
      |      ELSE 512 - list_min(list_filter(fd.rems, r -> r >= dd.n))
      |    END
      |  FROM fd JOIN dd ON dd.shard = fd.shard AND dd.rn = fd.rn + 1),
      |seqs AS (
      |  SELECT dd.shard, fd.abin AS bin, COUNT(*) AS n_docs,
      |    CAST(SUM(dd.n) AS INTEGER) AS n_tokens,
      |    string_agg(dd.ids_str, ' ' ORDER BY fd.aoff) AS raw,
      |    string_agg(CAST(fd.aoff AS VARCHAR), ' ' ORDER BY fd.aoff)
      |      AS doc_starts
      |  FROM dd JOIN fd ON fd.shard = dd.shard AND fd.rn = dd.rn
      |  GROUP BY dd.shard, fd.abin)
      |SELECT shard, bin, n_docs, n_tokens,
      |  CASE WHEN n_tokens = 512 THEN raw
      |    ELSE raw || repeat(' 0', 512 - n_tokens) END AS input_ids,
      |  doc_starts
      |FROM seqs
      |ORDER BY shard ASC NULLS FIRST, bin ASC NULLS FIRST""".stripMargin

  /** The hb_sft_pipeline oracle — the whole corpus→artifact program
    * from first principles: exact-dedup survivors (min id per
    * normalized-text fingerprint), the 80% s1 train cut, the 64-token
    * vocabulary FIT ON THE KEPT SET (the statement fits on the frame
    * it sees, not the raw corpus), ids, spanning placement (salt
    * `pack`), portions, padding, starts. */
  private[queries] lazy val hbSftPipelineOracleSql: String =
    s"""WITH win AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents
       |  GROUP BY md5(lower($normSql))),
       |kept AS (
       |  SELECT d.doc_id, d.text
       |  FROM documents d JOIN win USING (doc_id)
       |  WHERE CAST('0x' || SUBSTR(md5(CAST(d.doc_id AS VARCHAR) || ':s1'), 1, 8)
       |      AS BIGINT) % 10000 < 8000),
       |tok AS (
       |  SELECT doc_id,
       |    unnest(string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok,
       |    generate_subscripts(string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' '), 1) AS pos
       |  FROM kept),
       |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
       |vocab AS (
       |  SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS id
       |  FROM cnt ORDER BY n DESC, tok ASC LIMIT 64),
       |ids AS (
       |  SELECT t.doc_id,
       |    list(CAST(coalesce(v.id, 0) AS INTEGER) ORDER BY t.pos) AS idl
       |  FROM tok t LEFT JOIN vocab v USING (tok)
       |  GROUP BY t.doc_id),
       |d0 AS (
       |  SELECT doc_id, idl, CAST(len(idl) AS BIGINT) AS n,
       |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
       |      AS BIGINT) % 4 AS shard
       |  FROM ids),
       |c AS (
       |  SELECT doc_id, idl, n, shard,
       |    CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS bef
       |  FROM d0),
       |parts AS (
       |  SELECT shard, doc_id, idl, n, bef, k AS seq,
       |    greatest(k * 512, bef) AS s,
       |    least((k + 1) * 512, bef + n) AS e
       |  FROM c, unnest(range(bef // 512, (bef + n - 1) // 512 + 1)) AS t(k)),
       |pids AS (
       |  SELECT shard, seq, s, e, bef,
       |    array_to_string(idl[CAST(s - bef + 1 AS INTEGER):CAST(e - bef AS INTEGER)], ' ')
       |      AS portion
       |  FROM parts),
       |seqs AS (
       |  SELECT shard, seq, COUNT(*) AS n_docs,
       |    CAST(SUM(e - s) AS INTEGER) AS n_tokens,
       |    string_agg(portion, ' ' ORDER BY s) AS raw,
       |    COALESCE(string_agg(CASE WHEN s = bef
       |        THEN CAST(s - seq * 512 AS VARCHAR) END,
       |      ' ' ORDER BY s), '') AS doc_starts
       |  FROM pids GROUP BY shard, seq)
       |SELECT shard, seq, n_docs, n_tokens,
       |  CASE WHEN n_tokens = 512 THEN raw
       |    ELSE raw || repeat(' 0', 512 - n_tokens) END AS input_ids,
       |  doc_starts
       |FROM seqs
       |ORDER BY shard ASC NULLS FIRST, seq ASC NULLS FIRST""".stripMargin

  /** The t_chunk oracle — 64-token windows every 48 tokens over the
    * documents table. Shared with the `.hb`-surface twin `hb_chunk` in
    * HbGates (`chunk text 64 48` on the doc_id index compiles to the
    * same Chunking.chunkLayout call). */
  private[queries] lazy val chunkOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(text, '\s+', ' ', 'g'), ' ') AS tk
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, tk, len(tk) AS n,
      |    unnest(range(0, greatest(len(tk) - 1, 0) + 1, 48)) AS tok_start
      |  FROM toks)
      |SELECT doc_id,
      |  CAST(tok_start // 48 AS BIGINT) AS chunk_id,
      |  CAST(tok_start AS BIGINT) AS tok_start,
      |  CAST(least(64, n - tok_start) AS BIGINT) AS n_chunk_tokens,
      |  md5(array_to_string(tk[tok_start + 1 : tok_start + 64], ' ')) AS chunk_md5
      |FROM st
      |ORDER BY doc_id ASC NULLS FIRST, chunk_id ASC""".stripMargin

  /** The t_mix_sample oracle — en 100% / de 50% / fr 25% / default 10%
    * under salt mix1. Shared with the `.hb`-surface twin `hb_mix`
    * (`mix by lang [en 100; de 50; fr 25] 10 'mix1'` on the doc_id
    * index compiles to the same stratifiedSample call). */
  private[queries] lazy val mixOracleSql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8)
      |      AS BIGINT) % 10000 AS b
      |  FROM documents)
      |WHERE b < CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
      |               WHEN 'fr' THEN 2500 ELSE 1000 END
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_mix_rebalance oracle — counts, the C = min(n/t) cap, the
    * floor-quantized per-source cuts and the salted bucket filter for
    * targets 40/30/20/10 over src0..src3 under salt reb1. Shared with
    * the `.hb`-surface twin `hb_rebalance`. */
  /** The t_fim / hb_fim / st_hb_fim oracle — the rate bucket, both
    * salted cut draws and every PSM token boundary replayed. */
  private[queries] lazy val fimOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower($normSql), ' '),
       |      x -> x <> '') AS tk
       |  FROM documents),
       |cut AS (
       |  SELECT doc_id, tk, CAST(len(tk) AS INTEGER) AS n,
       |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim'), 1, 8)
       |      AS BIGINT) % 10000 AS bk,
       |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim:a'), 1, 8)
       |      AS BIGINT) % (len(tk) + 1) AS ca,
       |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim:b'), 1, 8)
       |      AS BIGINT) % (len(tk) + 1) AS cb
       |  FROM tok),
       |pc AS (
       |  SELECT doc_id, tk, n, bk,
       |    CAST(least(ca, cb) AS INTEGER) AS lo,
       |    CAST(greatest(ca, cb) AS INTEGER) AS hi
       |  FROM cut)
       |SELECT doc_id,
       |  CASE WHEN bk < 9000 THEN array_to_string(
       |      ['<PRE>'] || tk[1:lo] ||
       |      ['<SUF>'] || tk[hi+1:n] ||
       |      ['<MID>'] || tk[lo+1:hi], ' ')
       |    ELSE array_to_string(tk, ' ') END AS fim,
       |  (bk < 9000) AS fim_applied,
       |  CAST(n AS BIGINT) AS n_tokens
       |FROM pc
       |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_normalize / hb_normalize oracle expression — the junk
    * fixture and the full TextNorm chain rebuilt from chr() codepoints
    * (single-line: it interpolates into stripMargin templates). */
  private[queries] lazy val normalizeJunkSql: String = {
    val from = graft.functions.TextNorm.translatePairs
      .map { case (cp, _) => s"chr($cp)" }.mkString(" || ")
    val to = "'" + graft.functions.TextNorm.translatePairs
      .map(_._2).mkString.replace("'", "''") + "'"
    val fx = "chr(160) || chr(8220) || 'Begin' || chr(8230) || " +
      "chr(8221) || ' ' || chr(8203) || 'x' || chr(7) || 'y' || " +
      "chr(8212) || ' ' || substr(text, 1, 40) || ' ' || " +
      "chr(8216) || 'q' || chr(8217) || '  end' || chr(173) || '.'"
    s"trim(regexp_replace(regexp_replace(regexp_replace(" +
      s"translate($fx, $from, $to), chr(8230), '...', 'g'), " +
      "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F" +
      "\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}]', '', 'g'), " +
      "'\\s+', ' ', 'g'))"
  }

  /** The t_temperature_mix / hb_mix_temperature oracle — per-lang
    * counts, the min, and the exact-integer √-mix cut replayed:
    * bucket²·n_s < 10⁸·n_min (no floating point anywhere). */
  private[queries] lazy val temperatureMixOracleSql: String =
    """WITH n AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY lang),
      |mn AS (SELECT MIN(ns) AS nmin FROM n),
      |b AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':tm1'), 1, 8)
      |      AS BIGINT) % 10000 AS bk
      |  FROM documents)
      |SELECT b.doc_id, b.lang
      |FROM b JOIN n USING (lang), mn
      |WHERE b.bk * b.bk * n.ns < 100000000 * mn.nmin
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  private[queries] lazy val rebalanceOracleSql: String =
    """WITH cnt AS (
      |  SELECT source AS st, count(*) AS n
      |  FROM documents GROUP BY source),
      |tgt(st, t) AS (VALUES ('src0', 0.4), ('src1', 0.3),
      |  ('src2', 0.2), ('src3', 0.1)),
      |j AS (SELECT c.st, c.n, t.t FROM cnt c JOIN tgt t USING (st)),
      |cap AS (SELECT MIN(n / t) AS cap FROM j),
      |cut AS (SELECT st,
      |    CAST(FLOOR(LEAST(cap * t / n, 1.0) * 10000 + 0.5)
      |      AS BIGINT) AS cut
      |  FROM j, cap)
      |SELECT d.doc_id, d.source FROM documents d
      |JOIN cut ON cut.st = d.source
      |WHERE CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
      |    || ':reb1'), 1, 8) AS BIGINT) % 10000 < cut.cut
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_oov_rate oracle — vocab fit + per-source OOV mass.
    * Shared with the configuration twin `hb_coverage_cfg`. */
  private[queries] lazy val oovOracleSql: String =
    """WITH tok AS (
        |  SELECT source,
        |    unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |vocab AS (
        |  SELECT tok FROM cnt ORDER BY n DESC, tok ASC LIMIT 64)
        |SELECT t.source, count(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  (CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000) // count(*) AS oov_permille
        |FROM tok t LEFT JOIN vocab v USING (tok)
        |GROUP BY t.source
        |ORDER BY t.source ASC NULLS FIRST""".stripMargin

  /** The t_corpus_drift oracle — counts, smoothed ratios and the
    * two TakeOrdered cuts. Shared with the configuration twin
    * `hb_drift_cfg` in HbGates. */
  private[queries] lazy val driftOracleSql: String =
    """WITH ta AS (
        |  SELECT tk[i] AS token
        |  FROM (SELECT string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |        FROM documents
        |        WHERE source IN ('src0','src1','src2','src3','src4')),
        |    unnest(range(1, len(tk) + 1)) AS t(i)),
        |tb AS (
        |  SELECT tk[i] AS token
        |  FROM (SELECT string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |        FROM documents
        |        WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |    unnest(range(1, len(tk) + 1)) AS t(i)),
        |ca AS (SELECT token, count(*) AS cnt_a FROM ta GROUP BY token),
        |cb AS (SELECT token, count(*) AS cnt_b FROM tb GROUP BY token),
        |m AS (
        |  SELECT token, COALESCE(cnt_a, 0) AS cnt_a,
        |    COALESCE(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb USING (token)),
        |st AS (
        |  SELECT CAST(SUM(cnt_a) AS BIGINT) AS ta2,
        |    CAST(SUM(cnt_b) AS BIGINT) AS tb2, count(*) AS v FROM m),
        |sc AS (
        |  SELECT token, cnt_a, cnt_b,
        |    ((cnt_b + 1.0) * (ta2 + v)) / ((cnt_a + 1.0) * (tb2 + v))
        |      AS ratio
        |  FROM m, st),
        |rising AS (
        |  SELECT 'rising' AS direction,
        |    CAST(ROW_NUMBER() OVER (ORDER BY ratio DESC, token ASC)
        |      AS INTEGER) AS rank, token, cnt_a, cnt_b, ratio
        |  FROM sc ORDER BY ratio DESC, token ASC LIMIT 15),
        |falling AS (
        |  SELECT 'falling' AS direction,
        |    CAST(ROW_NUMBER() OVER (ORDER BY ratio ASC, token ASC)
        |      AS INTEGER) AS rank, token, cnt_a, cnt_b, ratio
        |  FROM sc ORDER BY ratio ASC, token ASC LIMIT 15)
        |SELECT * FROM (SELECT * FROM rising UNION ALL
        |  SELECT * FROM falling)
        |ORDER BY direction ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin

  /** The t_rebalance_tokens oracle — rebalanceOracleSql with the
    * per-stratum mass as SUM(n_chars) under salt reb2. */
  private[queries] lazy val rebalanceTokensOracleSql: String =
    """WITH cnt AS (
      |  SELECT source AS st, CAST(SUM(n_chars) AS BIGINT) AS n
      |  FROM documents GROUP BY source),
      |tgt(st, t) AS (VALUES ('src0', 0.4), ('src1', 0.3),
      |  ('src2', 0.2), ('src3', 0.1)),
      |j AS (SELECT c.st, c.n, t.t FROM cnt c JOIN tgt t USING (st)),
      |cap AS (SELECT MIN(n / t) AS cap FROM j),
      |cut AS (SELECT st,
      |    CAST(FLOOR(LEAST(cap * t / n, 1.0) * 10000 + 0.5)
      |      AS BIGINT) AS cut
      |  FROM j, cap)
      |SELECT d.doc_id, d.source, d.n_chars FROM documents d
      |JOIN cut ON cut.st = d.source
      |WHERE CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
      |    || ':reb2'), 1, 8) AS BIGINT) % 10000 < cut.cut
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The passage-scrub CTE chain (tokens → positioned 8-windows →
    * repeated fps → covered positions → kept tokens), ending with
    * `cl(doc_id, n_tokens, kept)`. Shared by t_passage_scrub and the
    * `.hb`-surface twin `hb_scrub` in HbGates. */
  private[queries] lazy val scrubCtesSql: String =
    """tok AS (
      |  SELECT doc_id,
      |    string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, i, md5(array_to_string(tk[i:i+7], ' ')) AS fp
      |  FROM tok, unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS t(i)),
      |rep AS (SELECT fp FROM w GROUP BY fp HAVING count(*) > 1),
      |cov AS (
      |  SELECT DISTINCT w.doc_id, w.i + j.j AS pos
      |  FROM w JOIN rep USING (fp), unnest(range(0, 8)) AS j(j)),
      |cva AS (SELECT doc_id, list(pos) AS cv FROM cov GROUP BY doc_id),
      |cl AS (
      |  SELECT t.doc_id,
      |    CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |    list_transform(
      |      list_filter(range(1, len(t.tk) + 1),
      |        p -> c.cv IS NULL OR NOT list_contains(c.cv, p)),
      |      p -> t.tk[p]) AS kept
      |  FROM tok t LEFT JOIN cva c USING (doc_id))""".stripMargin

  val gates: Seq[Gate] = Seq(

    // Token counting: whitespace tokens + a BPE-ish subword proxy
    // (runs of letters / digits / single punctuation, the GPT-2 pre-token
    // shape) — both as pure regexp counts.
    Gate("t_token_count",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .as("n_ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .as("n_subword_tokens"),
          col("n_chars"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_subword_tokens,
             |  n_chars
             |FROM documents ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Quality scoring: length, punctuation and stopword ratios folded into
    // a single bounded score. All-double arithmetic (deterministic bits).
    // The counts and composite ARE functions.TextSignals — the same
    // columns the `.hb` `quality (e)` expression compiles to, so the two
    // surfaces can't drift.
    Gate("t_quality_score", (s, d) => {
      import graft.functions.TextSignals
      val nTok = TextSignals.tokens(col("text"))
      val nPunct = TextSignals.punctCount(col("text"))
      val nStop = TextSignals.stopwordCount(col("text"))
      val avgTokLen =
        length(regexp_replace(col("text"), "\\s+", "")) * lit(1.0) / (nTok + lit(1))
      val punctRatio = nPunct * lit(1.0) / (nTok + lit(1))
      val stopRatio = nStop * lit(1.0) / (nTok + lit(1))
      t(s, d, "documents")
        .select(col("doc_id"),
          nTok.as("n_tokens"),
          punctRatio.as("punct_ratio"),
          stopRatio.as("stop_ratio"),
          avgTokLen.as("avg_tok_len"),
          TextSignals.quality(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },
      Some("""SELECT doc_id, n_tokens, punct_ratio, stop_ratio, avg_tok_len,
             |  LEAST(n_tokens * 1.0 / 100.0, 1.0)
             |    * (1.0 - LEAST(punct_ratio, 1.0))
             |    * (0.5 + LEAST(stop_ratio, 0.5)) AS quality
             |FROM (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
             |    len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
             |      / (len(regexp_extract_all(text, '\S+')) + 1) AS punct_ratio,
             |    len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) * 1.0
             |      / (len(regexp_extract_all(text, '\S+')) + 1) AS stop_ratio,
             |    length(regexp_replace(text, '\s+', '', 'g')) * 1.0
             |      / (len(regexp_extract_all(text, '\S+')) + 1) AS avg_tok_len
             |  FROM documents)
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Language ID: n-gram/stopword-marker heuristic with a deterministic
    // argmax tie-break (en > de > fr > es). The heuristic IS
    // functions.TextSignals.langid — what `.hb` `langid (e)` compiles to.
    Gate("t_langid", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TextSignals.langid(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang,
             |  CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
             |       ELSE CASE WHEN de >= fr AND de >= es THEN 'de'
             |            ELSE CASE WHEN fr >= es THEN 'fr' ELSE 'es' END END END
             |  AS lang_pred
             |FROM (
             |  SELECT doc_id, lang,
             |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS en,
             |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de,
             |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une)\b')) AS fr,
             |    len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')) AS es
             |  FROM documents)
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // TRAINABLE language ID (r14 — operators.LangId): multiclass hashed
    // NB over char trigrams, fit on the corpus's own labels (the
    // labeled-seed setup; LangIdSpec fits on a held-out split and pins
    // the accuracy floor vs the stopword heuristic, which is
    // structurally blind to zh). FULL oracle: trigram extraction,
    // salted-md5 buckets, bitlen-surrogate NB scores and the
    // (score DESC, lang ASC) argmax all replayed in SQL.
    Gate("t_langid_nb", (s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.LangId.fit(
        docs.select(col("lang"), col("text")), "lang", "text")
      graft.operators.LangId.predict(docs, model, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lang_pred"))
        .orderBy(col("doc_id"))
    },
      Some("WITH " + langIdCtesSql + "\n" +
        """SELECT d.doc_id, d.lang, p.lang_pred
          |FROM documents d JOIN pred p ON p.doc_id = d.doc_id AND p.rn = 1
          |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin)),

    // Document fingerprinting: digest of the whitespace-normalized text
    // (the content-defined identity used by the dedup family).
    Gate("t_fingerprint",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          md5(lower(normText)).as("fingerprint"),
          sha2(lower(normText), 256).as("fingerprint_sha256"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
             |  md5(lower($normSql)) AS fingerprint,
             |  sha256(lower($normSql)) AS fingerprint_sha256
             |FROM documents ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Rolling-hash fingerprint via the custom codegen'd Catalyst
    // expression (graft.functions.RollingHash). FULL oracle (rows-only
    // until r5): the polynomial fold IS replicable in SQL — DuckDB has
    // no wrapping 64-bit arithmetic, but HUGEINT (int128) holds the
    // worst intermediate (2^64·base ≈ 2^84), so a byte-level list_reduce
    // with an explicit mod 2^64 reproduces Java's wraparound bit-exactly;
    // UTF-8 bytes come from hex(encode(...)) because DuckDB 1.0 BLOBs
    // don't index. Cross-checked in RollingHashSpec too.
    Gate("t_rolling_hash",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.RollingHash.rolling_hash(lower(normText))
            .as("rhash"))
        .orderBy(col("doc_id")),
      Some(s"""WITH __hx AS (
             |  SELECT doc_id, lower(hex(encode(lower($normSql)))) AS h
             |  FROM documents),
             |__b AS (
             |  SELECT doc_id,
             |    list_transform(range(1, len(h)//2 + 1),
             |      i -> CAST(strpos('0123456789abcdef', h[2*i-1]) - 1 AS HUGEINT) * 16
             |           + (strpos('0123456789abcdef', h[2*i]) - 1)) AS bytes
             |  FROM __hx),
             |__r AS (
             |  SELECT doc_id,
             |    list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), bytes),
             |      (acc, x) -> (acc * 1000003 + x) % CAST(18446744073709551616 AS HUGEINT)) AS hu
             |  FROM __b)
             |SELECT doc_id,
             |  CAST(CASE WHEN hu >= 9223372036854775808
             |       THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS rhash
             |FROM __r ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // PII redaction — the scrubbing pass every training corpus needs.
    // The synthetic docs carry no PII, so the gate INJECTS a
    // deterministic email + phone per row and the oracle must reproduce
    // the redaction exactly: a real regex-dialect parity check (Java
    // regex vs RE2) on every row, not an identity hash. Pure codegen'd
    // regexp pipeline, narrow map.
    Gate("t_redact",
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\+?\\d[\\d() -]{6,}\\d"
        val injected = concat(col("text"),
          lit(" contact: user"), col("doc_id"),
          lit("@example.com or +1-555-00"), col("doc_id"))
        val noEmail = regexp_replace(injected, emailRe, "<EMAIL>")
        t(s, d, "documents").select(
          col("doc_id"),
          size(regexp_extract_all(injected, lit(emailRe), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(noEmail, lit(phoneRe), lit(0)))
            .as("n_phones"),
          md5(regexp_replace(noEmail, phoneRe, "<PHONE>"))
            .as("redacted_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH inj AS (
             |  SELECT doc_id,
             |    text || ' contact: user' || doc_id ||
             |      '@example.com or +1-555-00' || doc_id AS t
             |  FROM documents),
             |ne AS (
             |  SELECT doc_id, t,
             |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
             |  FROM inj)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
             |  CAST(len(regexp_extract_all(t2, '\+?\d[\d() -]{6,}\d')) AS INTEGER) AS n_phones,
             |  md5(regexp_replace(t2, '\+?\d[\d() -]{6,}\d', '<PHONE>', 'g')) AS redacted_md5
             |FROM ne
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Corpus statistics: exact top-20 trigrams — the canonical
    // explode → map-side-combined count → TakeOrdered shape (the
    // wordcount plan, shuffle volume = distinct grams, not corpus
    // bytes). Ties broken (count desc, gram asc) so the cut is
    // deterministic.
    Gate("t_top_ngrams",
      (s, d) => {
        // explode(arrays_zip(tk, tk<<1, tk<<2)) — NARROW gram
        // construction: no lambda (a transform/element_at HOF form
        // re-evaluates the whole lower+regexp+split chain per element_at
        // once Catalyst inlines the outer expression into the lambda —
        // measured 13.6 s at sf0.1), and no per-doc window (a
        // posexplode+lead form shuffles every token by doc_id). The only
        // exchange in this plan is the map-side-combined gram count.
        val tk = split(lower(normText), "\\s+")
        t(s, d, "documents")
          .select(tk.as("tk"),
            slice(tk, lit(2), greatest(size(tk) - 1, lit(0))).as("s2"),
            slice(tk, lit(3), greatest(size(tk) - 2, lit(0))).as("s3"))
          .select(explode(arrays_zip(col("tk"), col("s2"), col("s3")))
            .as("g"))
          .filter(col("g.s3").isNotNull) // zip pads the 2 tail positions
          .select(concat_ws(" ", col("g.tk"), col("g.s2"), col("g.s3"))
            .as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("gram"))
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(lower(regexp_replace(text, '\s+', ' ', 'g')), '\s+') AS tk
             |  FROM documents),
             |grams AS (
             |  SELECT unnest(list_transform(
             |    range(0, greatest(len(tk)-3, 0) + CASE WHEN len(tk) >= 3 THEN 1 ELSE 0 END),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) AS gram
             |  FROM toks)
             |SELECT gram, COUNT(*) AS n FROM grams GROUP BY gram
             |ORDER BY n DESC, gram ASC LIMIT 20""".stripMargin)),

    // Grouped top-k: top-5 trigrams PER LANGUAGE — the keyed form of
    // t_top_ngrams. The rank window partitions by lang (keyed shuffle,
    // never a global sort/TakeOrdered), so the pattern survives any
    // number of groups at any scale. Ties broken (count desc, gram asc);
    // rank cast to long on both sides (DuckDB row_number is BIGINT).
    Gate("t_top_ngrams_by_lang",
      (s, d) => {
        val tk = split(lower(normText), "\\s+")
        val counts = t(s, d, "documents")
          .select(col("lang"), tk.as("tk"),
            slice(tk, lit(2), greatest(size(tk) - 1, lit(0))).as("s2"),
            slice(tk, lit(3), greatest(size(tk) - 2, lit(0))).as("s3"))
          .select(col("lang"),
            explode(arrays_zip(col("tk"), col("s2"), col("s3"))).as("g"))
          .filter(col("g.s3").isNotNull)
          .select(col("lang"),
            concat_ws(" ", col("g.tk"), col("g.s2"), col("g.s3"))
              .as("gram"))
          .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("n").desc, col("gram"))
        counts
          .withColumn("rank", row_number().over(w).cast(LongType))
          .filter(col("rank") <= 5)
          .orderBy(col("lang"), col("rank"))
      },
      Some("""WITH toks AS (
             |  SELECT lang, string_split_regex(lower(regexp_replace(text, '\s+', ' ', 'g')), '\s+') AS tk
             |  FROM documents),
             |grams AS (
             |  SELECT lang, unnest(list_transform(
             |    range(0, greatest(len(tk)-3, 0) + CASE WHEN len(tk) >= 3 THEN 1 ELSE 0 END),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) AS gram
             |  FROM toks),
             |cnt AS (SELECT lang, gram, COUNT(*) AS n FROM grams GROUP BY lang, gram),
             |rk AS (
             |  SELECT lang, gram, n,
             |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC) AS rank
             |  FROM cnt)
             |SELECT lang, gram, n, rank FROM rk WHERE rank <= 5
             |ORDER BY lang ASC NULLS FIRST, rank ASC""".stripMargin)),

    // Exact per-group quantiles: p50/p90/p99 of document length per
    // language — the exact-order-statistics answer to approx_percentile
    // (which is engine-private and not oracle-able). The rank window
    // partitions by lang (keyed shuffle, no global sort); the quantile
    // index is pure integer arithmetic (ceil(cnt·p/100) as
    // (cnt·p+99) DIV 100), so both engines pick the identical row, and
    // the n_chars/doc_id tie-break makes the pick total-ordered.
    Gate("t_length_quantiles",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("n_chars"), col("doc_id"))
        val cw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
        t(s, d, "documents")
          .select(col("lang"), col("n_chars"), col("doc_id"))
          .withColumn("rn", row_number().over(w).cast(LongType))
          .withColumn("cnt", count(lit(1)).over(cw))
          .select(col("lang"), col("rn"), col("cnt"), col("n_chars"),
            explode(array(lit(50), lit(90), lit(99))).as("pct"))
          .filter(col("rn") === expr("(cnt * pct + 99) DIV 100"))
          .select(col("lang"), col("pct"), col("n_chars").as("value"))
          .orderBy(col("lang"), col("pct"))
      },
      Some("""WITH r AS (
             |  SELECT lang, n_chars,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY n_chars, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY lang) AS cnt
             |  FROM documents),
             |x AS (
             |  SELECT lang, n_chars, rn, cnt, unnest([50, 90, 99]) AS pct
             |  FROM r)
             |SELECT lang, pct, n_chars AS value FROM x
             |WHERE rn = (cnt * pct + 99) // 100
             |ORDER BY lang ASC NULLS FIRST, pct ASC""".stripMargin)),

    // Mixture report: docs/tokens per (lang, source) with corpus
    // fractions — the table domain-mix sampling weights are set from.
    // One map-side-combined groupBy; the totals come from an
    // unpartitioned window over the TINY aggregated frame (bounded by
    // the number of (lang, source) cells, a documented post-aggregation
    // smallness). All-integer sums; fractions are single divisions.
    Gate("t_mix_report",
      (s, d) => {
        val nTok = sizeNS(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        val agg = t(s, d, "documents")
          .select(col("lang"), col("source"), nTok.as("nt"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy()
        agg
          .withColumn("doc_frac",
            col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(w))
          .withColumn("token_frac",
            col("n_tokens").cast(DoubleType) / sum(col("n_tokens")).over(w))
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH agg AS (
             |  SELECT lang, source, COUNT(*) AS n_docs,
             |    CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY lang, source)
             |SELECT lang, source, n_docs, n_tokens,
             |  CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS BIGINT) AS doc_frac,
             |  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS BIGINT) AS token_frac
             |FROM agg
             |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin)),

    // The composite C4/Gopher-style KEEP/DROP filter — the curation
    // decision every pretraining corpus applies, composed from the
    // engine's own signals (token count, stopword density, duplicate
    // token mass) with a `reason` column for auditability. Entirely a
    // narrow codegen'd expression pipeline: the signals are per-row,
    // so the filter runs inside the scan stage at any scale.
    Gate("t_c4_filter",
      (s, d) => {
        val (nTok, nStop, dupFrac) = c4Signals
        val reason =
          when(nTok < 20, lit("too_short"))
            .when(dupFrac > 0.3, lit("repetitive"))
            .when(nStop * lit(1.0) / nTok < 0.01, lit("no_stopwords"))
            .otherwise(lit("keep"))
        t(s, d, "documents")
          .select(col("doc_id"), reason.as("reason"),
            (reason === "keep").as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sig AS (
             |  SELECT doc_id,
             |    len(string_split_regex(lower($normSql), '\\s+')) AS nt,
             |    len(list_distinct(string_split_regex(lower($normSql), '\\s+'))) AS nd,
             |    len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS ns
             |  FROM documents),
             |lab AS (
             |  SELECT doc_id,
             |    CASE WHEN nt < 20 THEN 'too_short'
             |         WHEN CAST(nt - nd AS DOUBLE) / nt > 0.3 THEN 'repetitive'
             |         WHEN ns * 1.0 / nt < 0.01 THEN 'no_stopwords'
             |         ELSE 'keep' END AS reason
             |  FROM sig)
             |SELECT doc_id, reason, (reason = 'keep') AS keep
             |FROM lab ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Repetition signals — the Gopher/C4-family quality rules every
    // pretraining corpus filters on: token-level duplicate mass (pure
    // narrow HOF, no shuffle) and the most-frequent-bigram mass (the
    // wordcount shape: explode → per-(doc,gram) map-side-combined count
    // → per-doc max; shuffle volume = distinct (doc,gram) pairs, linear
    // in corpus size). All-integer numerators/denominators, so the
    // double divisions are bit-exact in both engines.
    Gate("t_repetition",
      (s, d) => {
        // dup_token_frac IS functions.TextSignals.repetition — what the
        // `.hb` `repetition (e)` expression compiles to
        val tk = split(lower(normText), "\\s+")
        val base = t(s, d, "documents")
          .select(col("doc_id"), tk.as("tk"),
            graft.functions.TextSignals.repetition(col("text"))
              .as("dup_token_frac"))
          .withColumn("n_tokens", size(col("tk")))
        val top = base
          .select(col("doc_id"), col("tk"),
            slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0)))
              .as("s2"))
          .select(col("doc_id"),
            explode(arrays_zip(col("tk"), col("s2"))).as("g"))
          .filter(col("g.s2").isNotNull) // zip pads the tail position
          .select(col("doc_id"),
            concat_ws(" ", col("g.tk"), col("g.s2")).as("gram"))
          .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max(col("c")).as("top_bigram_n"))
        base.drop("tk")
          .join(top, Seq("doc_id"), "left")
          .withColumn("top_bigram_frac",
            when(col("n_tokens") >= 2,
              col("top_bigram_n").cast(DoubleType) / (col("n_tokens") - 1)))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    string_split_regex(lower($normSql), '\\s+') AS tk
             |  FROM documents),
             |base AS (
             |  SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
             |    CAST(len(tk) - len(list_distinct(tk)) AS DOUBLE) / len(tk)
             |      AS dup_token_frac
             |  FROM toks),
             |bi AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(tk)),
             |      i -> tk[i] || ' ' || tk[i+1])) AS gram
             |  FROM toks),
             |cnt AS (SELECT doc_id, gram, COUNT(*) AS c
             |        FROM bi GROUP BY doc_id, gram),
             |top AS (SELECT doc_id, MAX(c) AS top_bigram_n
             |        FROM cnt GROUP BY doc_id)
             |SELECT b.doc_id, b.n_tokens, b.dup_token_frac,
             |  t.top_bigram_n,
             |  CASE WHEN b.n_tokens >= 2
             |    THEN CAST(t.top_bigram_n AS DOUBLE) / (b.n_tokens - 1)
             |  END AS top_bigram_frac
             |FROM base b LEFT JOIN top t USING (doc_id)
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Deterministic domain mixing (operators.Sampling.stratifiedSample):
    // per-stratum keep fractions — the training-mix curation primitive.
    // Same engine-portable salted-md5 bucket as the split; the
    // per-row threshold is a literal CASE, so the plan stays a
    // shuffle-free narrow map at any scale.
    Gate("t_mix_sample",
      (s, d) => Sampling.stratifiedSample(t(s, d, "documents"),
        "doc_id", "mix1", "lang",
        Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25), default = 0.1)
        .select("doc_id", "lang")
        .orderBy(col("doc_id")),
      Some(TextGates.mixOracleSql)),

    // Domain-mix rebalancing (operators.Sampling.rebalance): derive
    // per-source keep-rates in-plan so the kept corpus has exactly the
    // prescribed source mix (downsampling only — the binding stratum
    // keeps everything), then apply the salted-md5 bucket cut. Full
    // oracle: DuckDB re-derives counts, the C = min(n/t) cap, the
    // floor-quantized cuts, and the bucket filter.
    Gate("t_mix_rebalance",
      (s, d) => Sampling.rebalance(t(s, d, "documents"),
        "doc_id", "reb1", "source",
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
        .select("doc_id", "source")
        .orderBy(col("doc_id")),
      Some(TextGates.rebalanceOracleSql)),

    // Deterministic epoch shuffle: every document's global training
    // position under salt ep0 — range-exchange ordinals (no
    // single-partition window), replayed by the oracle's ROW_NUMBER
    // over the same salted hash with id tie-break.
    Gate("t_shuffle_order",
      (s, d) => Sampling.shuffleOrder(t(s, d, "documents"),
        "doc_id", "ep0")
        .select("doc_id", "source", "shuffle_pos")
        .orderBy(col("shuffle_pos")),
      Some(
        """SELECT doc_id, source,
          |  CAST(ROW_NUMBER() OVER (ORDER BY
          |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':ep0'),
          |      1, 8) AS BIGINT), doc_id) AS BIGINT) AS shuffle_pos
          |FROM documents
          |ORDER BY shuffle_pos ASC NULLS FIRST""".stripMargin)),

    // Weighted twin: the same 40/30/20/10 mix hit over CHAR MASS
    // (n_chars sums, the unit a token budget allocates) instead of
    // document counts — per-stratum cuts derive from SUM(n_chars).
    Gate("t_rebalance_tokens",
      (s, d) => Sampling.rebalanceByWeight(t(s, d, "documents"),
        "doc_id", "reb2", "source", "n_chars",
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
        .select("doc_id", "source", "n_chars")
        .orderBy(col("doc_id")),
      Some(TextGates.rebalanceTokensOracleSql)),

    // Benchmark decontamination (operators.Decontaminate): flag corpus
    // docs sharing any word 4-gram with a (deterministic 5%-sample)
    // eval set. At 100 TB the eval side is a benchmark — thousands of
    // docs — so its distinct grams BROADCAST and the corpus never
    // shuffles for the membership test; only matched doc ids (the
    // contamination rate, ~3% here) reach an exchange. Full oracle:
    // same bucket, same tokenization, same gram windows in DuckDB.
    Gate("t_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        val b = Sampling.hashBucket(col("doc_id"), "eval")
        graft.operators.Decontaminate.flag(
          docs.filter(b >= 500), docs.filter(b < 500),
          "doc_id", "text", n = 4)
          .select(col("doc_id"), col("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some("WITH " + deconCtesSql + "\n" +
        """SELECT k.doc_id AS doc_id,
          |  (h.doc_id IS NOT NULL) AS contaminated
          |FROM bkt k LEFT JOIN hits h ON k.doc_id = h.doc_id
          |WHERE k.b >= 500
          |ORDER BY k.doc_id ASC NULLS FIRST""".stripMargin)),

    // DSIR-shaped importance selection (operators.Dsir, Xie et al.
    // NeurIPS '23): target = two sources' documents, raw = the other
    // eighteen; keep the top 20% of raw docs by smoothed target-vs-raw
    // unigram likelihood ratio, fixed-point quantized per token before
    // the order-free integer sum (the t_bm25 discipline — no logs, no
    // float accumulation, so DuckDB replays the score bit-for-bit).
    Gate("t_dsir_select",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Dsir.select(
          docs.filter(!col("source").isin("src0", "src1")),
          docs.filter(col("source").isin("src0", "src1")),
          "doc_id", "text", pct = 20)
          .select(col("doc_id"), col("source"), col("score_fp"))
          .orderBy(col("doc_id"))
      },
      Some(TextGates.dsirOracleSql)),

    // Fixed-window chunking with stride (operators.Chunking): 64-token
    // windows every 48 tokens (25% overlap). Pure narrow map + explode —
    // a document's chunk layout depends only on its own tokens, so the
    // plan has ZERO shuffles at any scale. chunk_id = tok_start/stride
    // (no ordinal window needed). Full oracle: DuckDB range() replays
    // the same start positions and slices.
    Gate("t_chunk",
      (s, d) => graft.operators.Chunking.chunkLayout(
        t(s, d, "documents"), "doc_id", "text", window = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id")),
      Some(TextGates.chunkOracleSql)),

    // Frequency vocabulary + token-id encoding (operators.Vocab): fit
    // the top-64 tokens by (count desc, token asc) — a total order, so
    // ids are partitioning- and engine-stable — then encode every doc
    // as its id sequence (OOV → 0). Counts shuffle (token, count)
    // pairs, the top-N cut is a TakeOrdered, the ≤64-row vocab is
    // broadcast for encoding; full oracle re-derives the vocabulary
    // and the per-position id arrays in DuckDB. The gate projects the
    // id array to its space-joined string form (null-preserving) so
    // the comparison harness gets a scalar column; library users get
    // the array from Vocab.encode directly.
    Gate("t_vocab_encode",
      (s, d) => graft.operators.Vocab.fitEncode(
        t(s, d, "documents"), "doc_id", "text", size = 64)
        .select(col("doc_id"),
          when(col("token_ids").isNotNull,
            concat_ws(" ", col("token_ids"))).as("token_ids_str"))
        .orderBy(col("doc_id")),
      Some(TextGates.vocabOracleSql)),

    // Vocabulary coverage: per-source OOV rate under the same top-64
    // vocab t_vocab_encode fits — the tokenizer sanity metric checked
    // before committing to a vocabulary. Integer milli-rate.
    Gate("t_oov_rate",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Vocab.coverage(docs, "source", "text",
          graft.operators.Vocab.fit(docs, "text", 64))
          .orderBy(col("source"))
      },
      Some(oovOracleSql)),

    // Deterministic NFKC-lite normalization (r12 — functions.TextNorm):
    // curly quotes/dashes/exotic spaces unified, ellipsis expanded,
    // control + zero-width + BOM + soft-hyphen bytes deleted,
    // whitespace collapsed — the cleanup pass every ingest runs before
    // tokenizing, restricted to rules that replay bit-for-bit (full ICU
    // NFKC is library-versioned). The fixture enriches the corpus text
    // with every junk class; the oracle rebuilds the identical
    // translate/regexp chain from chr() codepoints. Pure codegen'd
    // narrow map.
    Gate("t_normalize", (s, d) => {
      val junk = concat(
        lit("\u00A0\u201CBegin\u2026\u201D \u200Bx\u0007y\u2014 "),
        expr("substring(text, 1, 40)"),
        lit(" \u2018q\u2019  end\u00AD."))
      t(s, d, "documents").select(col("doc_id"),
          graft.functions.TextNorm.normalize(junk).as("norm"),
          graft.functions.TextNorm.normalize(junk, lowercase = true)
            .as("norm_lower"))
        .orderBy(col("doc_id"))
    },
      Some(s"""SELECT doc_id, $normalizeJunkSql AS norm,
           |  lower($normalizeJunkSql) AS norm_lower
           |FROM documents
           |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Temperature-2 domain mix (r12 — Sampling.temperatureSample): the
    // p_s ∝ n_s^(1/T) reweighting multilingual pretraining uses so head
    // domains don't drown rare ones, downsample-only (rarest lang keeps
    // 100%, others keep √(n_min/n_s)). The cut is EXACT INTEGER —
    // bucket²·n_s < 10⁸·n_min, algebraically the √ comparison with both
    // sides squared — so the oracle replays it with zero floating
    // point. ONE bounded count aggregate broadcasts; the filter is a
    // narrow map. The corpus lang column is ~3× skewed toward en at
    // every sf, so both keep and drop paths fire.
    Gate("t_temperature_mix",
      (s, d) => graft.operators.Sampling.temperatureSample(
        t(s, d, "documents"), "doc_id", "tm1", "lang")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some(temperatureMixOracleSql)),

    // Deterministic train/val/test split (operators.Sampling): bucket =
    // first 8 md5 hex digits of "id:salt" — engine-portable (DuckDB
    // replicates it exactly), shuffle-free narrow map, stable under any
    // partitioning or corpus growth. Full SQL oracle.
    Gate("t_hash_split",
      (s, d) => Sampling.hashSplit(t(s, d, "documents"), "doc_id", "s1",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CASE WHEN b < 8000 THEN 'train'
             |       WHEN b < 9000 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM (
             |  SELECT doc_id,
             |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':s1'), 1, 8)
             |      AS BIGINT) % 10000 AS b
             |  FROM documents)
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // GPT-style sequence-packing layout (operators.Packing): documents
    // concatenated per hash shard, chopped into 4096-token sequences;
    // each doc's placement (first/last sequence, offset) from one keyed
    // cumulative-sum window. Full SQL oracle (n_chars as token proxy).
    Gate("t_pack_layout",
      (s, d) => graft.operators.Packing.packedLayout(
        t(s, d, "documents"), "doc_id", "n_chars",
        budget = 4096L, shards = 8)
        .orderBy(col("doc_id")),
      Some("""WITH s AS (
             |  SELECT doc_id, n_chars,
             |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
             |      AS BIGINT) % 8 AS shard
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, shard, n_chars,
             |    COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
             |  FROM s)
             |SELECT doc_id, shard,
             |  CAST(bef // 4096 AS BIGINT) AS seq_first,
             |  CAST((bef + greatest(n_chars, 1) - 1) // 4096 AS BIGINT) AS seq_last,
             |  CAST(bef % 4096 AS BIGINT) AS seq_offset
             |FROM c ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Packing-efficiency report over the layout: per shard, the doc
    // count, sequence count, token mass and integer fill rate — the
    // utilization table a pipeline reads before committing to a
    // sequence budget (a low fill_permille means the budget wastes
    // context window on padding).
    Gate("t_pack_stats", (s, d) =>
      graft.operators.Packing.packedLayout(
        t(s, d, "documents"), "doc_id", "n_chars",
        budget = 4096L, shards = 8)
        // the layout carries placement only; token mass joins back in
        // on the id (one keyed exchange, both sides already id-keyed)
        .join(t(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          (max(col("seq_last")) + 1).as("n_seqs"),
          sum(col("n_chars")).as("total_tokens"))
        .withColumn("fill_permille",
          expr("(total_tokens * 1000) div (n_seqs * 4096)"))
        .orderBy(col("shard")),
      Some("""WITH s AS (
             |  SELECT doc_id, n_chars,
             |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
             |      AS BIGINT) % 8 AS shard
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, shard, n_chars,
             |    COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
             |  FROM s),
             |pl AS (
             |  SELECT doc_id, shard, n_chars,
             |    CAST((bef + greatest(n_chars, 1) - 1) // 4096 AS BIGINT)
             |      AS seq_last
             |  FROM c)
             |SELECT shard, COUNT(*) AS n_docs,
             |  MAX(seq_last) + 1 AS n_seqs,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_tokens,
             |  (CAST(SUM(n_chars) AS BIGINT) * 1000)
             |    // ((MAX(seq_last) + 1) * 4096) AS fill_permille
             |FROM pl GROUP BY shard
             |ORDER BY shard ASC NULLS FIRST""".stripMargin)),

    // Document-ALIGNED packing (r11): the SFT regime where documents
    // must not cross sequence boundaries, so the layout policy decides
    // real padding waste — t_pack_stats measures fill but the spanning
    // layout's fill is order-invariant; this gate packs the same corpus
    // under both arrival-order next-fit and BEST-FIT-DECREASING
    // (Johnson '73) and pins per-shard bins + fill for both, plus the
    // improvement bit. The oracle replays both sequential folds as
    // recursive CTEs advancing every shard one document per step —
    // scalar (bin, rem) state for next-fit, a remainders LIST for
    // best-fit (position = bin, smallest-fit via
    // list_min∘list_filter, lowest-index ties via list_position).
    Gate("t_pack_bfd", (s, d) => {
      val docs = t(s, d, "documents")
      def fill(dec: Boolean, bf: Boolean, bins: String, fp: String) =
        graft.operators.Packing.binLayout(docs, "doc_id", "n_chars",
          budget = 1024L, shards = 8, salt = "packbins",
          decreasing = dec, bestFit = bf)
          .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            (max(col("bin")) + 1).as(bins),
            sum(col("n_chars").cast("long")).as("__tok"))
          .withColumn(fp,
            expr(s"(__tok * 1000) div ($bins * 1024)"))
      fill(dec = false, bf = false, "n_bins_nf", "fill_nf")
        .join(fill(dec = true, bf = true, "n_bins_bfd", "fill_bfd")
          .select(col("shard"), col("n_bins_bfd"), col("fill_bfd")),
          "shard")
        .withColumn("improved", col("fill_bfd") >= col("fill_nf"))
        .select(col("shard"), col("n_docs"), col("n_bins_nf"),
          col("fill_nf"), col("n_bins_bfd"), col("fill_bfd"),
          col("improved"))
        .orderBy(col("shard"))
    },
      Some("""WITH RECURSIVE s AS (
             |  SELECT doc_id, n_chars,
             |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':packbins'), 1, 8)
             |      AS BIGINT) % 8 AS shard
             |  FROM documents),
             |a AS (SELECT n_chars, shard,
             |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
             |  FROM s),
             |dd AS (SELECT n_chars, shard,
             |    ROW_NUMBER() OVER (PARTITION BY shard
             |      ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM s),
             |fa AS (
             |  SELECT shard, CAST(0 AS BIGINT) AS rn,
             |    CAST(-1 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS rem
             |  FROM (SELECT DISTINCT shard FROM s)
             |  UNION ALL
             |  SELECT a.shard, fa.rn + 1,
             |    CASE WHEN fa.bin < 0 OR a.n_chars > fa.rem
             |      THEN fa.bin + 1 ELSE fa.bin END,
             |    CASE WHEN fa.bin < 0 OR a.n_chars > fa.rem
             |      THEN 1024 - a.n_chars ELSE fa.rem - a.n_chars END
             |  FROM fa JOIN a ON a.shard = fa.shard AND a.rn = fa.rn + 1),
             |fd AS (
             |  SELECT shard, CAST(0 AS BIGINT) AS rn,
             |    CAST([] AS BIGINT[]) AS rems
             |  FROM (SELECT DISTINCT shard FROM s)
             |  UNION ALL
             |  SELECT dd.shard, fd.rn + 1,
             |    CASE WHEN list_min(list_filter(fd.rems,
             |        r -> r >= dd.n_chars)) IS NULL
             |      THEN list_append(fd.rems, 1024 - dd.n_chars)
             |      ELSE fd.rems[:list_position(fd.rems, list_min(
             |          list_filter(fd.rems, r -> r >= dd.n_chars))) - 1]
             |        || [list_min(list_filter(fd.rems,
             |             r -> r >= dd.n_chars)) - dd.n_chars]
             |        || fd.rems[list_position(fd.rems, list_min(
             |          list_filter(fd.rems, r -> r >= dd.n_chars))) + 1:]
             |    END
             |  FROM fd JOIN dd ON dd.shard = fd.shard AND dd.rn = fd.rn + 1),
             |ga AS (SELECT shard, MAX(bin) + 1 AS n_bins FROM fa GROUP BY shard),
             |tot AS (SELECT shard, COUNT(*) AS n_docs,
             |    CAST(SUM(n_chars) AS BIGINT) AS tok
             |  FROM s GROUP BY shard),
             |gd AS (SELECT fd.shard, CAST(len(fd.rems) AS BIGINT) AS n_bins
             |  FROM fd JOIN tot t ON fd.shard = t.shard AND fd.rn = t.n_docs)
             |SELECT t.shard, t.n_docs,
             |  ga.n_bins AS n_bins_nf,
             |  (t.tok * 1000) // (ga.n_bins * 1024) AS fill_nf,
             |  gd.n_bins AS n_bins_bfd,
             |  (t.tok * 1000) // (gd.n_bins * 1024) AS fill_bfd,
             |  (t.tok * 1000) // (gd.n_bins * 1024) >=
             |    (t.tok * 1000) // (ga.n_bins * 1024) AS improved
             |FROM tot t JOIN ga USING (shard) JOIN gd USING (shard)
             |ORDER BY shard ASC NULLS FIRST""".stripMargin)),

    // The training-data pipeline END-TO-END: exact dedup → deterministic
    // 80/10/10 hash split → train-shard sequence packing, one hash-checked
    // composition. Each stage has its own gate; this one pins the
    // INTERACTIONS (dedup winners feed the split; the packed cumsum runs
    // over exactly the surviving train docs). Every stage is
    // shuffle-lean: digest-only dedup shuffle, narrow-map split, sharded
    // keyed windows — the composition inherits the scale story of its
    // parts.
    Gate("t_pipeline_e2e",
      (s, d) => {
        val docs = t(s, d, "documents")
        val winners = graft.operators.Dedup.exact(docs, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val surviving = docs.join(winners, "doc_id")
        val train = graft.operators.Sampling.hashSplit(surviving,
          "doc_id", "s1", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .filter(col("split") === "train")
        graft.operators.Packing.packedLayout(train, "doc_id", "n_chars",
          budget = 4096L, shards = 8)
          .orderBy(col("doc_id"))
      },
      Some(TextGates.pipelineOracleSql)),

    // Lexical retrieval: BM25-shaped ranking of the corpus against a
    // literal query term set. The plan is wordcount-shaped: tokenize →
    // explode → FILTER TO QUERY TERMS inside the scan stage (only query
    // term hits ever shuffle) → per-(doc,term) tf → term df joined back
    // by broadcast (the df frame is |query| rows). Engine-portability
    // deviations, documented: idf is the odds ratio (N-df+0.5)/(df+0.5)
    // WITHOUT the log (libm ln differs in last ULPs across engines;
    // ranking for fixed weights is unaffected in spirit, and the oracle
    // must hash-match bits), and per-term scores are fixed-point floored
    // BEFORE the per-doc sum so the aggregate is order-free. k1=1.2,
    // b=0.75.
    Gate("t_bm25", (s, d) => {
      val terms = Seq("data", "model", "system")
      val k1 = 1.2; val b = 0.75
      val docs = t(s, d, "documents")
      val tk = split(lower(normText), "\\s+")
      val base = docs.select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"), size(col("tk")).as("dl"),
          explode(col("tk")).as("term"))
        .filter(col("term").isin(terms: _*))
      val tf = base.groupBy(col("doc_id"), col("term"), col("dl"))
        .agg(count(lit(1)).as("tf"))
      val n = docs.select(count(lit(1)).as("n_docs"))
      // explicit exact-integer sum / count (an engine's avg() may
      // accumulate in doubles — order-dependent bits)
      val avg = docs.select(
        (sum(sizeNS(split(lower(normText), "\\s+"))).cast(DoubleType) /
          count(lit(1))).as("avgdl"))
      val df_ = tf.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val scored = tf
        .join(broadcast(df_), "term")
        .crossJoin(broadcast(n)).crossJoin(broadcast(avg))
        .withColumn("idf",
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        .withColumn("tfn",
          col("tf") * (lit(k1) + 1) /
            (col("tf") + lit(k1) *
              (lit(1) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
        .withColumn("term_fp",
          floor(col("idf") * col("tfn") * lit(1e9)).cast(LongType))
      scored.groupBy("doc_id")
        .agg(sum(col("term_fp")).as("score_fp"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score_fp").desc, col("doc_id"))
        .limit(20)
    },
      Some(s"""WITH tok AS (
             |  SELECT doc_id,
             |    string_split_regex(lower($normSql), '\\s+') AS tk
             |  FROM documents),
             |base AS (
             |  SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tok),
             |hits AS (
             |  SELECT doc_id, dl, term FROM base
             |  WHERE term IN ('data', 'model', 'system')),
             |tf AS (
             |  SELECT doc_id, term, dl, count(*) AS tf
             |  FROM hits GROUP BY doc_id, term, dl),
             |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |a AS (SELECT CAST(SUM(len(string_split_regex(lower($normSql), '\\s+'))) AS DOUBLE)
             |        / COUNT(*) AS avgdl
             |      FROM documents),
             |sc AS (
             |  SELECT t.doc_id,
             |    CAST(FLOOR(
             |      ((n.n_docs - d.df + 0.5) / (d.df + 0.5))
             |      * (t.tf * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / a.avgdl)))
             |      * 1e9) AS BIGINT) AS term_fp
             |  FROM tf t JOIN dfq d USING (term), n, a)
             |SELECT doc_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp,
             |  count(*) AS n_terms_hit
             |FROM sc GROUP BY doc_id
             |ORDER BY score_fp DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // Passage-level dedup (operators.PassageDedup): per-doc repeated
    // 8-token-window mass — the sub-document duplication signal doc-level
    // dedup misses (Lee-et-al-style). Shuffle = one 32-byte digest per
    // window (map-side combined); the winnowing `sampleMod` knob (1 here
    // = exhaustive) cuts that by 1/p at corpus scale. Full oracle: same
    // windows, digests, repeat counts in DuckDB.
    Gate("d_passage_dedup",
      (s, d) => graft.operators.PassageDedup.docStats(
        t(s, d, "documents"), "doc_id", "text", k = 8)
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, md5(array_to_string(tk[i:i+7], ' ')) AS fp
             |  FROM tok, unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS t(i)),
             |rep AS (SELECT fp FROM w GROUP BY fp HAVING count(*) > 1),
             |tot AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id),
             |rpd AS (
             |  SELECT w.doc_id, count(*) AS n_repeated
             |  FROM w JOIN rep USING (fp) GROUP BY w.doc_id)
             |SELECT d.doc_id,
             |  COALESCE(t.n_windows, 0) AS n_windows,
             |  COALESCE(r.n_repeated, 0) AS n_repeated,
             |  CASE WHEN COALESCE(t.n_windows, 0) > 0
             |    THEN CAST(COALESCE(r.n_repeated, 0) AS DOUBLE) / t.n_windows
             |  END AS repeated_frac
             |FROM documents d
             |LEFT JOIN tot t USING (doc_id) LEFT JOIN rpd r USING (doc_id)
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Passage REMOVAL (operators.PassageDedup.scrub) — the Lee-et-al
    // ExactSubstr policy: every token covered by any corpus-repeated
    // 8-token window is dropped, all copies, and the normalized text is
    // reconstructed per row. Digests-only repeat exchange; covered
    // positions exist only for repeated windows (bounded by repeated
    // mass); reconstruction is a narrow HOF filter. The oracle rebuilds
    // the scrubbed text token-for-token in DuckDB.
    Gate("t_passage_scrub",
      (s, d) => graft.operators.PassageDedup.scrub(
        t(s, d, "documents"), "doc_id", "text", k = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("scrubbed")).as("scrubbed_md5"))
        .orderBy(col("doc_id")),
      Some("WITH " + TextGates.scrubCtesSql + "\n" +
        """SELECT doc_id, n_tokens,
          |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
          |  -- DuckDB array_to_string([]) is NULL; Spark concat_ws is ''
          |  md5(COALESCE(array_to_string(kept, ' '), '')) AS scrubbed_md5
          |FROM cl ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Cross-corpus scrub: decontamination that EDITS instead of drops
    // — every train-side token covered by an 8-token window appearing
    // anywhere in the (5%-sample) eval set is excised and the rest of
    // the document survives, where t_decontaminate's doc-level flag
    // would discard long docs that merely quote a benchmark item. The
    // eval side reduces to distinct broadcast digests.
    Gate("t_decon_scrub", (s, d) => {
      val docs = t(s, d, "documents")
      val b = Sampling.hashBucket(col("doc_id"), "eval")
      graft.operators.PassageDedup.scrubAgainst(
        docs.filter(b >= 500), "doc_id", "text",
        docs.filter(b < 500), "doc_id", "text", k = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("scrubbed")).as("scrubbed_md5"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH bkt AS (
        |  SELECT doc_id, text,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':eval'),
        |      1, 8) AS BIGINT) % 10000 AS b
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, b,
        |    string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |  FROM bkt),
        |w AS (
        |  SELECT doc_id, b, i, md5(array_to_string(tk[i:i+7], ' ')) AS fp
        |  FROM tok, unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS t(i)),
        |ev AS (SELECT DISTINCT fp FROM w WHERE b < 500),
        |cov AS (
        |  SELECT DISTINCT w.doc_id, w.i + j.j AS pos
        |  FROM w JOIN ev USING (fp), unnest(range(0, 8)) AS j(j)
        |  WHERE w.b >= 500),
        |cva AS (SELECT doc_id, list(pos) AS cv FROM cov GROUP BY doc_id),
        |cl AS (
        |  SELECT t.doc_id,
        |    CAST(len(t.tk) AS BIGINT) AS n_tokens,
        |    list_transform(
        |      list_filter(range(1, len(t.tk) + 1),
        |        p -> c.cv IS NULL OR NOT list_contains(c.cv, p)),
        |      p -> t.tk[p]) AS kept
        |  FROM tok t LEFT JOIN cva c USING (doc_id)
        |  WHERE t.b >= 500)
        |SELECT doc_id, n_tokens,
        |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
        |  md5(COALESCE(array_to_string(kept, ' '), '')) AS scrubbed_md5
        |FROM cl ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // The r7 curation operators composed END-TO-END: decontaminate
    // (drop docs overlapping the 5%-sample eval set) → C4-style quality
    // filter (keep reason = 'keep') → passage-dedup threshold on the
    // SURVIVORS (repeated_frac computed post-filter — the interaction
    // this gate pins: repeat counts change when the corpus shrinks) →
    // deterministic 90/10 split. Every stage has its own gate; this one
    // checks the composition, like t_pipeline_e2e does for
    // dedup → split → pack.
    Gate("t_curation_e2e",
      (s, d) => {
        val docs = t(s, d, "documents")
        val b = Sampling.hashBucket(col("doc_id"), "eval")
        val decon = graft.operators.Decontaminate.flag(
          docs.filter(b >= 500), docs.filter(b < 500),
          "doc_id", "text", n = 4)
          .filter(!col("contaminated")).drop("contaminated")
        val (nTok, nStop, dupFrac) = c4Signals
        // the survivor frame fans out twice (PassageDedup stats + the
        // final join) — checkpoint it so the broadcast-decontamination
        // + C4-signal subtree computes ONCE, the same lineage-truncation
        // discipline PassageDedup applies to its windows frame. Only the
        // two columns the fan-out needs survive the checkpoint.
        val quality = graft.Scope.checkpoint(decon.filter(nTok >= 20 &&
          dupFrac <= 0.3 && nStop * lit(1.0) / nTok >= 0.01)
          .select("doc_id", "text"), "t_curation_e2e: quality")
        val stats = graft.operators.PassageDedup.docStats(
          quality, "doc_id", "text", k = 8)
          .filter(col("n_windows") === 0 || col("repeated_frac") <= 0.5)
          .select("doc_id")
        graft.operators.Sampling.hashSplit(
          quality.join(stats, "doc_id").select(col("doc_id")),
          "doc_id", "cur1", Seq("train" -> 0.9, "holdout" -> 0.1))
          .orderBy(col("doc_id"))
      },
      Some("WITH " + deconCtesSql + ",\n" +
        """decon AS (
             |  SELECT k.doc_id, k.text FROM bkt k
             |  LEFT JOIN hits h ON k.doc_id = h.doc_id
             |  WHERE k.b >= 500 AND h.doc_id IS NULL),
             |sig AS (
             |  SELECT doc_id, text,
             |    len(string_split_regex(lower(regexp_replace(text, '\s+', ' ', 'g')), '\s+')) AS nt,
             |    len(list_distinct(string_split_regex(lower(regexp_replace(text, '\s+', ' ', 'g')), '\s+'))) AS nd,
             |    len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS ns
             |  FROM decon),
             |quality AS (
             |  SELECT doc_id, text FROM sig
             |  WHERE nt >= 20 AND CAST(nt - nd AS DOUBLE) / nt <= 0.3
             |    AND ns * 1.0 / nt >= 0.01),
             |qtok AS (
             |  SELECT doc_id,
             |    string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
             |  FROM quality),
             |w AS (
             |  SELECT doc_id, md5(array_to_string(tk[i:i+7], ' ')) AS fp
             |  FROM qtok, unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS t(i)),
             |rep AS (SELECT fp FROM w GROUP BY fp HAVING count(*) > 1),
             |tot AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id),
             |rpd AS (
             |  SELECT w.doc_id, count(*) AS n_repeated
             |  FROM w JOIN rep USING (fp) GROUP BY w.doc_id),
             |surv AS (
             |  SELECT q.doc_id FROM quality q
             |  LEFT JOIN tot t ON q.doc_id = t.doc_id
             |  LEFT JOIN rpd r ON q.doc_id = r.doc_id
             |  WHERE COALESCE(t.n_windows, 0) = 0
             |     OR CAST(COALESCE(r.n_repeated, 0) AS DOUBLE) / t.n_windows <= 0.5)
             |SELECT doc_id,
             |  CASE WHEN CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':cur1'), 1, 8)
             |      AS BIGINT) % 10000 < 9000 THEN 'train' ELSE 'holdout' END AS split
             |FROM surv
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // EXACT repeated-substring dedup at ARBITRARY length (r13 —
    // operators.SubstringDedup, the Lee et al. 2022 EXACTSUBSTR
    // objective): every position covered by a ≥8-token substring that
    // occurs verbatim more than once ANYWHERE in the corpus, reported
    // as maximal merged spans at single-token granularity (a 50-token
    // verbatim quote is ONE 50-token span, not window-aligned pieces —
    // the exactness PassageDedup's winnowing trades away), plus the
    // scrubbed text with those positions excised. Two-phase exact
    // counting: 8-byte xxhash64 digests shuffle, candidates re-verified
    // on the gram string (collisions can never mark a non-repeat);
    // run-merge is one keyed per-document window. FULL oracle: windows,
    // corpus-wide counts, the gaps-and-islands merge, coverage and the
    // token-level reconstruction.
    Gate("d_substring_dedup", (s, d) => {
      val docs = t(s, d, "documents")
      // ONE corpus-wide counting pass feeds both outputs: the merged
      // spans materialize once (tiny — actual duplication only) and
      // drive the span report AND the scrub
      val spanRows = graft.Scope.checkpoint(
        graft.operators.SubstringDedup.spansFromWindows(
          graft.operators.SubstringDedup.duplicatedWindows(
            docs, "doc_id", "text", 8), "doc_id", 8),
        "d_substring_dedup: spans")
      val spans = spanRows
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          concat_ws(" ", transform(
            sort_array(collect_list(struct(col("span_start"),
              col("span_len")))),
            e => concat(e.getField("span_start").cast("string"),
              lit(":"), e.getField("span_len").cast("string"))))
            .as("spans_str"))
      graft.operators.SubstringDedup.scrubWithSpans(
        docs, spanRows, "doc_id", "text")
        .join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("spans_str"), lit("")).as("spans_str"),
          col("scrubbed"), col("n_removed"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS off,
        |    array_to_string(tk[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS gram
        |  FROM tk, unnest(range(1, len(tk) - 8 + 2)) AS t(i)),
        |dupg AS (SELECT gram FROM win GROUP BY gram HAVING COUNT(*) >= 2),
        |hit AS (SELECT w.doc_id, w.off FROM win w JOIN dupg USING (gram)),
        |runs AS (
        |  SELECT doc_id, off,
        |    off - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY off) AS run
        |  FROM hit),
        |spans AS (
        |  SELECT doc_id, MIN(off) AS span_start,
        |    MAX(off) - MIN(off) + 8 AS span_len
        |  FROM runs GROUP BY doc_id, run),
        |spanagg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |    string_agg(CAST(span_start AS VARCHAR) || ':' ||
        |      CAST(span_len AS VARCHAR), ' ' ORDER BY span_start)
        |      AS spans_str
        |  FROM spans GROUP BY doc_id),
        |cov AS (
        |  SELECT DISTINCT h.doc_id, CAST(p AS BIGINT) AS pos
        |  FROM hit h, unnest(range(h.off, h.off + 8)) AS t(p)),
        |tokpos AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[CAST(i AS INTEGER)] AS tok
        |  FROM tk, unnest(range(1, len(tk) + 1)) AS t(i)),
        |keptagg AS (
        |  SELECT tp.doc_id,
        |    COALESCE(string_agg(tp.tok, ' ' ORDER BY tp.pos)
        |      FILTER (WHERE c.pos IS NULL), '') AS scrubbed,
        |    CAST(COUNT(*) FILTER (WHERE c.pos IS NOT NULL) AS BIGINT)
        |      AS n_removed
        |  FROM tokpos tp LEFT JOIN cov c
        |    ON c.doc_id = tp.doc_id AND c.pos = tp.pos
        |  GROUP BY tp.doc_id)
        |SELECT k.doc_id, COALESCE(sa.n_spans, 0) AS n_spans,
        |  COALESCE(sa.spans_str, '') AS spans_str,
        |  k.scrubbed, k.n_removed
        |FROM keptagg k LEFT JOIN spanagg sa USING (doc_id)
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // KEEP-FIRST-COPY substring dedup (r13): the remove-all-but-one
    // policy — each duplicated gram's canonical occurrence (lowest doc
    // id, then offset) is exempt, so the content survives exactly once
    // in the corpus instead of vanishing entirely. One extra per-GRAM
    // keyed window over the duplicated candidates (output-sized, never
    // the corpus). Oracle: the same coverage chain with the canonical
    // exemption replayed via ROW_NUMBER.
    Gate("d_substring_keepfirst", (s, d) =>
      graft.operators.SubstringDedup.scrubRepeats(
        t(s, d, "documents"), "doc_id", "text", 8, keepFirst = true)
        .select(col("doc_id"), col("scrubbed"), col("n_removed"))
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS off,
        |    array_to_string(tk[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS gram
        |  FROM tk, unnest(range(1, len(tk) - 8 + 2)) AS t(i)),
        |dupg AS (SELECT gram FROM win GROUP BY gram HAVING COUNT(*) >= 2),
        |hit AS (
        |  SELECT doc_id, off FROM (
        |    SELECT w.doc_id, w.off,
        |      ROW_NUMBER() OVER (PARTITION BY w.gram
        |        ORDER BY w.doc_id ASC, w.off ASC) AS rn
        |    FROM win w JOIN dupg USING (gram))
        |  WHERE rn > 1),
        |cov AS (
        |  SELECT DISTINCT h.doc_id, CAST(p AS BIGINT) AS pos
        |  FROM hit h, unnest(range(h.off, h.off + 8)) AS t(p)),
        |tokpos AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[CAST(i AS INTEGER)] AS tok
        |  FROM tk, unnest(range(1, len(tk) + 1)) AS t(i))
        |SELECT tp.doc_id,
        |  COALESCE(string_agg(tp.tok, ' ' ORDER BY tp.pos)
        |    FILTER (WHERE c.pos IS NULL), '') AS scrubbed,
        |  CAST(COUNT(*) FILTER (WHERE c.pos IS NOT NULL) AS BIGINT)
        |    AS n_removed
        |FROM tokpos tp LEFT JOIN cov c
        |  ON c.doc_id = tp.doc_id AND c.pos = tp.pos
        |GROUP BY tp.doc_id
        |ORDER BY tp.doc_id ASC NULLS FIRST""".stripMargin)),

    // Exact dedup: hash-groupBy on the normalized-text fingerprint; one
    // shuffle on the digest, map-side combine does the heavy lifting at
    // scale (100 TB: digest is 32 bytes/row regardless of doc size).
    Gate("d_exact_dedup",
      (s, d) => t(s, d, "documents")
        .groupBy(md5(lower(normText)).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id")),
      Some(s"""SELECT md5(lower($normSql)) AS fingerprint,
             |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY 1
             |ORDER BY keep_id ASC NULLS FIRST""".stripMargin)),

    // Stratified quality selection (r9): the post-scoring curation cut —
    // keep the best k / best fraction of every stratum so no domain
    // crowds the training budget (the CCNet/FineWeb quality-bucket
    // shape). Score is fixed-point floor(quality·1e6) so the ranking is
    // pure integer; ties resolve by the (score DESC, id ASC) total
    // order in both engines.
    // BPE tokenizer training (r9, Sennrich et al. ACL '16): learn the
    // merge table ON the corpus, deterministically — integer pair
    // counts, (count desc, left asc, right asc) total order, greedy
    // left-to-right application via the run-parity rule. The oracle
    // replays all 8 rounds as unrolled SQL (operators.Bpe scaladoc).
    Gate("t_bpe_train", (s, d) => {
      import s.implicits._
      graft.operators.Bpe.fit(t(s, d, "documents"), "text", 8,
        minCount = 1L)
        .map(m => (m.rank, m.left, m.right, m.merged))
        .toDF("rank", "left", "right", "merged")
        .orderBy(col("rank"))
    },
      Some("WITH " + bpeCtesSql(8) + "\n" +
        """SELECT CAST("rank" AS INTEGER) AS "rank", l AS "left",
          |  r AS "right", l || r AS merged
          |FROM (""".stripMargin +
        (1 to 8).map(k => s"""SELECT $k AS "rank", l, r FROM b$k""")
          .mkString("\n", "\nUNION ALL\n", ")\n") +
        """ORDER BY "rank" ASC NULLS FIRST""")),

    Gate("t_bpe_encode", (s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.operators.Bpe.fit(docs, "text", 8,
        minCount = 1L)
      docs.select(col("doc_id"),
        graft.operators.Bpe.encodeColFast(col("text"), merges).as("bpe"))
        .orderBy(col("doc_id"))
    },
      Some(bpeEncodeOracleSql)),

    // WordPiece trainer (operators.WordPiece — the BERT tokenizer
    // family next to BPE): 6 likelihood-ranked merges (fixed-point
    // pc·1e6 div (uc_l·uc_r), total order score/pc/l/r) over the
    // BERT-style ##-spelled word frame. FULL oracle: every round's
    // pair+unit aggregates, score arithmetic and merge application
    // unrolled as CTEs.
    Gate("t_wordpiece_train", (s, d) => {
      import s.implicits._
      graft.operators.WordPiece.fit(t(s, d, "documents"), "text", 6,
        minCount = 1L)._1
        .map(m => (m.rank, m.left, m.right, m.merged, m.scoreFp))
        .toDF("rank", "left", "right", "merged", "score_fp")
        .orderBy(col("rank"))
    },
      Some("WITH " + wordPieceCtesSql(6) + "\n" +
        """SELECT CAST("rank" AS INTEGER) AS "rank", l AS "left",
          |  r AS "right",
          |  l || CASE WHEN r LIKE '##%' THEN substr(r, 3) ELSE r END AS merged,
          |  CAST(sc AS BIGINT) AS score_fp
          |FROM (""".stripMargin +
        (1 to 6).map(k => s"""SELECT $k AS "rank", l, r, sc FROM b$k""")
          .mkString("\n", "\nUNION ALL\n", ")\n") +
        """ORDER BY "rank" ASC NULLS FIRST""")),

    // WordPiece ENCODE (fit 6 merges → final vocabulary → greedy
    // longest-match-first, ## continuations, [UNK] collapse): the fold
    // runs once per DISTINCT word and joins back — the scalable
    // context-free design. FULL oracle: training rounds, the
    // vocabulary, per-position longest-match lengths, the greedy walk
    // as a recursive CTE, and ordered document reassembly.
    Gate("t_wordpiece", (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = graft.operators.WordPiece
        .fit(docs, "text", 6, minCount = 1L)._2
      graft.operators.WordPiece.encode(docs, "doc_id", "text", vocab)
        .orderBy(col("doc_id"))
    },
      Some(wordPieceDocOracleSql)),

    // BERT vocab.txt FILE round trip (r12 — sinks.TokenizerFiles): the
    // fitted vocabulary exported one-piece-per-line ([UNK] at line 0 =
    // id 0, the vocabFrame layout), loaded back, and the LOADED list
    // drives the same native greedy encode — green iff the file carries
    // the vocabulary losslessly. Same columns as t_wordpiece → the same
    // full oracle.
    Gate("t_wordpiece_export_rt", (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = graft.operators.WordPiece
        .fit(docs, "text", 6, minCount = 1L)._2
      val path = java.nio.file.Files
        .createTempDirectory("graft_bert_rt").toString + "/vocab.txt"
      graft.sinks.TokenizerFiles.writeBertVocab(path, vocab)
      graft.operators.WordPiece.encode(docs, "doc_id", "text",
        graft.sinks.TokenizerFiles.readBertVocab(path))
        .orderBy(col("doc_id"))
    },
      Some(wordPieceDocOracleSql)),

    // The shippable WordPiece vocab.txt table: [UNK] at id 0, then the
    // final vocabulary (corpus alphabet + merged pieces) in sorted
    // order. Oracle re-derives the vocabulary from the unrolled rounds
    // and replays the id assignment.
    Gate("t_wordpiece_vocab", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.WordPiece.vocabFrame(s,
        graft.operators.WordPiece
          .fit(docs, "text", 6, minCount = 1L)._2)
        .orderBy(col("id"))
    },
      Some("WITH " + wordPieceCtesSql(6) + ",\n" +
        """vocab AS MATERIALIZED (
          |  SELECT DISTINCT sym FROM (
          |    SELECT sym FROM st0
          |    UNION ALL
          |""".stripMargin +
        (1 to 6).map(k =>
          s"SELECT l || CASE WHEN r LIKE '##%' THEN substr(r, 3) ELSE r END AS sym FROM b$k")
          .mkString("\nUNION ALL\n") + "))\n" +
        """SELECT CAST(id AS INTEGER) AS id, piece FROM (
          |  SELECT 0 AS id, '[UNK]' AS piece
          |  UNION ALL
          |  SELECT ROW_NUMBER() OVER (ORDER BY sym ASC), sym FROM vocab)
          |ORDER BY id ASC NULLS FIRST""".stripMargin)),

    // Production-VOCAB-SCALE WordPiece fit (r12): >=1k likelihood-ranked
    // merges trained by WordPiece.fit — the driver in-memory trainer
    // over the collected distinct-word frame maintaining pair AND unit
    // counts (a round-by-round Spark fit would be >=1k sequential
    // two-aggregate rounds — hours at a real 30k BERT vocab). Same
    // trigram fixture as t_bpe_train_big; a 1k-round likelihood fit
    // can't unroll in SQL, so the oracle checks the greedy-encode
    // reconstruction invariant (pieces glue back to the token stream —
    // the corpus has no '#' characters, so ' ##' is unambiguously the
    // continuation marker) plus counts; merge-for-merge semantics are
    // pinned by WordPieceSpec's parity with the specification trainer.
    Gate("t_wordpiece_train_big", (s, d) => {
      // spread BEFORE the trigram assembly: the heavy projection must
      // sit above the added exchange, or the single-row-group scan
      // serializes it (guide §2.5) — wordFrame's internal spread comes
      // too late for a projection built outside the fit
      val docs = graft.PlanAudit.repartitionIfLayoutBound(
        t(s, d, "documents"))
      val tk = graft.operators.Decontaminate.tokens(col("text"))
      val g = greatest(size(tk) - 2, lit(0))
      val tri = transform(
        arrays_zip(slice(tk, lit(1), g).as("a"), slice(tk, lit(2), g).as("b"),
          slice(tk, lit(3), g).as("c")),
        t3 => concat_ws("_", t3.getField("a"), t3.getField("b"),
          t3.getField("c")))
      // cached in the gate's scope: the trigram assembly feeds the fit's
      // word count AND the encode output — one fill, the other reads
      // blocks (r17, guide §6 scan reuse)
      val fx = graft.Scope.cache(
        docs.select(col("doc_id"), array_join(tri, " ").as("fx")),
        "t_wordpiece_train_big: trigrams")
      // vocabulary from the FULL frame (alphabet-complete, so the
      // greedy encode never UNKs and the reconstruction is exact)
      val (merges, vocab) = graft.operators.WordPiece
        .fit(fx, "fx", 1024, minCount = 1L)
      require(merges.size >= 1000,
        s"wordpiece train_big expected >= 1000 merges, got ${merges.size}")
      val enc = graft.operators.WordPiece.encodeCol(col("fx"), vocab)
      graft.operators.Sampling.hashSample(fx, "doc_id", "wpbig12", 0.2)
        .select(col("doc_id"),
          lit(merges.size >= 1000).as("merges_ge_1000"),
          size(filter(graft.operators.Decontaminate.tokens(col("fx")),
            w => length(w) > 0)).as("n_words"),
          call_function("replace", array_join(enc, " "), lit(" ##"),
            lit("")).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH tkn AS (
             |  SELECT doc_id, string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
             |  FROM documents),
             |fx AS (
             |  SELECT doc_id, COALESCE(string_agg(
             |      tk[i] || '_' || tk[i+1] || '_' || tk[i+2], ' ' ORDER BY i), '') AS fx
             |  FROM tkn, unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS t(i)
             |  GROUP BY doc_id)
             |SELECT doc_id, TRUE AS merges_ge_1000,
             |  CAST(len(regexp_extract_all(fx, '\S+')) AS INTEGER) AS n_words,
             |  fx AS decoded
             |FROM fx
             |WHERE CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
             |    || ':wpbig12'), 1, 8) AS BIGINT) % 10000 < 2000
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Production-vocab-scale BPE encode (r10): every document encoded
    // under a ≥256-merge table in ONE codegen'd narrow pass — the
    // regime where the r9 all-merges loop paid nMerges array passes
    // per word and the pair-rank-lookup encoder pays only the word's
    // own pairs. A 300-round trained table can't be replayed in
    // tractable SQL, so (a) the merge table is a FIXED deterministic
    // chain construction (char chains of a fixed word list — deep
    // cascades, cross-word rank interactions, Scala-side, data-free)
    // and (b) the oracle checks the segmentation INVARIANT that any
    // correct BPE encode must satisfy: subwords concatenate back to
    // exactly the normalized token stream, per document, plus the
    // token count. Bit-exact ≥256-merge merge SEMANTICS (vs the
    // sequential specification) are pinned by BpeSpec's
    // driver-reference property; this gate pins the in-plan behavior
    // at scale, hash-green.
    Gate("t_bpe_encode_big", (s, d) => {
      val enc = graft.operators.Bpe.encodeColFast(col("text"),
        TextGates.bigMergeTable)
      t(s, d, "documents").select(col("doc_id"),
        lit(TextGates.bigMergeTable.size).as("n_merges"),
        size(filter(graft.operators.Decontaminate.tokens(col("text")),
          w => length(w) > 0)).as("n_words"),
        rtrim(call_function("replace",
          call_function("replace", enc, lit(" "), lit("")),
          lit(graft.operators.Bpe.EndOfWord), lit(" "))).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some(s"""SELECT doc_id,
             |  CAST(${bigMergeTable.size} AS INTEGER) AS n_merges,
             |  CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER)
             |    AS n_words,
             |  trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))
             |    AS decoded
             |FROM documents
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Production-VOCAB-SCALE BPE fit (r11): >=1k merges trained by
    // Bpe.fit — the driver in-memory trainer over the collected
    // distinct-word frame (Heap's-law bounded; the split every real
    // tokenizer trainer uses) — where a round-by-round Spark fit would
    // be >=1k sequential rounds. The corpus vocabulary is ~30 words, so
    // the fixture synthesizes a 16k+-distinct-word frame from TRIGRAM
    // tokens (deterministic, SQL-replayable). A 1k-round fit can't
    // unroll in SQL, so the oracle checks the t_bpe_encode_big
    // segmentation invariant (subwords concatenate back to the token
    // stream) plus counts; merge-for-merge semantics are pinned by
    // BpeSpec's parity with the specification trainer.
    Gate("t_bpe_train_big", (s, d) => {
      // spread before the trigram assembly (see t_wordpiece_train_big)
      val docs = graft.PlanAudit.repartitionIfLayoutBound(
        t(s, d, "documents"))
      val tk = graft.operators.Decontaminate.tokens(col("text"))
      // arrays_zip over three slices, NOT element_at(tk, i) in the
      // lambda: HOF lambdas evaluate interpreted with no CSE, so each
      // element_at would recompute the whole lower+regex split —
      // measured 10.7 s vs 0.9 s for this frame at sf0.1
      val g = greatest(size(tk) - 2, lit(0))
      val tri = transform(
        arrays_zip(slice(tk, lit(1), g).as("a"), slice(tk, lit(2), g).as("b"),
          slice(tk, lit(3), g).as("c")),
        t3 => concat_ws("_", t3.getField("a"), t3.getField("b"),
          t3.getField("c")))
      // cached in the gate's scope — see t_wordpiece_train_big (fit +
      // encode output share one trigram assembly)
      val fx = graft.Scope.cache(
        docs.select(col("doc_id"), array_join(tri, " ").as("fx")),
        "t_bpe_train_big: trigrams")
      // fit on the FULL frame; encode-probe a deterministic 20% hash
      // sample — the invariant needs a probe, not the corpus
      val merges = graft.operators.Bpe.fit(fx, "fx", 1024, minCount = 1L)
      require(merges.size >= 1000,
        s"train_big expected >= 1000 merges, got ${merges.size}")
      val enc = graft.operators.Bpe.encodeColFast(col("fx"), merges)
      graft.operators.Sampling.hashSample(fx, "doc_id", "big11", 0.2)
        .select(col("doc_id"),
          lit(merges.size >= 1000).as("merges_ge_1000"),
          size(filter(graft.operators.Decontaminate.tokens(col("fx")),
            w => length(w) > 0)).as("n_words"),
          rtrim(call_function("replace",
            call_function("replace", enc, lit(" "), lit("")),
            lit(graft.operators.Bpe.EndOfWord), lit(" "))).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH tkn AS (
             |  SELECT doc_id, string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
             |  FROM documents),
             |fx AS (
             |  SELECT doc_id, COALESCE(string_agg(
             |      tk[i] || '_' || tk[i+1] || '_' || tk[i+2], ' ' ORDER BY i), '') AS fx
             |  FROM tkn, unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS t(i)
             |  GROUP BY doc_id)
             |SELECT doc_id, TRUE AS merges_ge_1000,
             |  CAST(len(regexp_extract_all(fx, '\S+')) AS INTEGER) AS n_words,
             |  fx AS decoded
             |FROM fx
             |WHERE CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
             |    || ':big11'), 1, 8) AS BIGINT) % 10000 < 2000
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Byte-level, case-preserving BPE (r11): the production-tokenizer
    // regime the word-level mode deliberately is not — GPT-2 regex
    // pretokens, byte-alphabet symbols, no </w>, LOSSLESS decode. The
    // corpus text is lowercase single-spaced by construction, so the
    // fixture enriches it deterministically in both engines: title
    // case, an UPPER run, digits, punctuation, a double space, newline
    // + tab. Six training rounds unroll in SQL over the pretoken frame
    // (same generic round CTEs as t_bpe_train); `decoded` pins the
    // byte-identical round trip as a hash check.
    Gate("t_bpe_bytes", (s, d) => {
      val fx = concat(lit("The "),
        upper(expr("substring(text, 1, 3)")), expr("substring(text, 4)"),
        lit("  #"), (col("doc_id") % 100).cast("string"),
        lit(", End.\n\ttail  42 "))
      val docs = t(s, d, "documents").select(col("doc_id"), fx.as("fx"))
      val merges = graft.operators.Bpe.fit(docs, "fx", 6,
        minCount = 1L, byteLevel = true)
      val enc = graft.operators.Bpe.encodeBytesCol(col("fx"), merges)
      docs.select(col("doc_id"), enc.as("bpe"),
        graft.operators.Bpe.decodeBytesCol(enc).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some(bpeBytesOracleSql)),

    // Tokenizer FERTILITY / COMPRESSION report (r12): the two numbers a
    // tokenizer is judged by before a training run commits to it —
    // subword pieces per word (fertility ×1000) and characters per
    // token (compression ×1000), per language, under the byte-level
    // table trained on the corpus itself. All-integer sums + exact
    // `div`, so the report replays bit-for-bit. Plan: the fit (bounded
    // rounds) + ONE codegen'd encode pass + one keyed aggregate.
    Gate("t_tokenizer_fertility", (s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.operators.Bpe.fit(docs, "text", 6,
        minCount = 1L, byteLevel = true)
      val ids = graft.operators.Bpe.encodeIdsCol(col("text"), merges)
      docs.select(col("lang"),
          graft.functions.TextSignals.tokens(col("text")).cast(LongType)
            .as("__w"),
          length(col("text")).cast(LongType).as("__c"),
          size(ids).cast(LongType).as("__i"))
        .groupBy(col("lang"))
        .agg(sum(col("__w")).as("words_total"),
          sum(col("__c")).as("chars_total"),
          sum(col("__i")).as("ids_total"))
        .withColumn("fertility_permille",
          expr("ids_total * 1000 div words_total"))
        .withColumn("compression_permille",
          expr("chars_total * 1000 div ids_total"))
        .orderBy(col("lang"))
    },
      Some(bpeBytesChainSql("text", 6) +
        """,
        |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS np
        |  FROM st6 GROUP BY word),
        |perdoc AS (
        |  SELECT d.doc_id, CAST(SUM(w.np) AS BIGINT) AS n_ids
        |  FROM dtok d JOIN wc w USING (word) GROUP BY d.doc_id),
        |agg AS (
        |  SELECT doc.lang,
        |    CAST(SUM(len(regexp_extract_all(doc.text, '\S+'))) AS BIGINT)
        |      AS words_total,
        |    CAST(SUM(length(doc.text)) AS BIGINT) AS chars_total,
        |    CAST(SUM(p.n_ids) AS BIGINT) AS ids_total
        |  FROM documents doc JOIN perdoc p USING (doc_id)
        |  GROUP BY doc.lang)
        |SELECT lang, words_total, chars_total, ids_total,
        |  ids_total * 1000 // words_total AS fertility_permille,
        |  chars_total * 1000 // ids_total AS compression_permille
        |FROM agg
        |ORDER BY lang ASC NULLS FIRST""".stripMargin)),

    // GPT-2 FILE round trip (r12 — sinks.TokenizerFiles): the trained
    // byte merge table exported as vocab.json + merges.txt (the
    // openai/gpt-2 encoder.json layout), loaded back, and the LOADED
    // table drives the same codegen'd encode/decode — so the gate
    // hashes green iff the file formats carry the model losslessly.
    // Identical fixture/columns to t_bpe_bytes → the same full oracle.
    Gate("t_bpe_export_rt", (s, d) => {
      val fx = concat(lit("The "),
        upper(expr("substring(text, 1, 3)")), expr("substring(text, 4)"),
        lit("  #"), (col("doc_id") % 100).cast("string"),
        lit(", End.\n\ttail  42 "))
      val docs = t(s, d, "documents").select(col("doc_id"), fx.as("fx"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_gpt2_rt").toString
      graft.sinks.TokenizerFiles.writeGpt2(dir,
        graft.operators.Bpe.fit(docs, "fx", 6, minCount = 1L,
          byteLevel = true))
      val loaded = graft.sinks.TokenizerFiles.readGpt2(dir)
      val enc = graft.operators.Bpe.encodeBytesCol(col("fx"), loaded)
      docs.select(col("doc_id"), enc.as("bpe"),
        graft.operators.Bpe.decodeBytesCol(enc).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some(bpeBytesOracleSql)),

    // The shippable tokenizer-artifact TABLE (r11): every id's
    // spelling under the GPT-2 layout — 256 byte tokens (the oracle
    // replays the bytes_to_unicode construction itself: keep-set
    // membership + a correlated running count of excluded bytes) plus
    // the trained merges by rank.
    Gate("t_bpe_vocab", (s, d) => {
      val fx = concat(lit("The "),
        upper(expr("substring(text, 1, 3)")), expr("substring(text, 4)"),
        lit("  #"), (col("doc_id") % 100).cast("string"),
        lit(", End.\n\ttail  42 "))
      val docs = t(s, d, "documents").select(col("doc_id"), fx.as("fx"))
      val merges = graft.operators.Bpe.fit(docs, "fx", 6,
        minCount = 1L, byteLevel = true)
      graft.operators.Bpe.vocabFrame(s, merges).orderBy(col("id"))
    },
      Some(bpeBytesChainSql(bpeBytesFixtureSql, 6) +
        """,
        |fullbase AS (
        |  SELECT CAST(b AS INTEGER) AS id,
        |    CASE WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
        |        OR (b BETWEEN 174 AND 255)
        |      THEN chr(CAST(b AS INTEGER))
        |      ELSE chr(CAST(256 + (
        |        SELECT COUNT(*) FROM range(256) AS t2(b2)
        |        WHERE b2 < t.b AND NOT ((b2 BETWEEN 33 AND 126)
        |          OR (b2 BETWEEN 161 AND 172)
        |          OR (b2 BETWEEN 174 AND 255))) AS INTEGER))
        |    END AS sym
        |  FROM range(256) AS t(b))
        |SELECT id, sym, kind, rank FROM (
        |  SELECT id, sym, 'byte' AS kind, 0 AS rank FROM fullbase
        |  UNION ALL""".stripMargin +
        (1 to 6).map(k =>
          s"  SELECT CAST(255 + $k AS INTEGER), l || r, 'merge', $k FROM b$k")
          .mkString("\n", "\n  UNION ALL\n", ")\n") +
        "ORDER BY id ASC NULLS FIRST")),

    // Token-ID form of the byte tokenizer (r11): the artifact a
    // training run ships — array<int> under the GPT-2 id layout (256
    // byte tokens, then merges by rank), with the byte-exact id→text
    // decode as a second hash check. Same fixture and 6 unrolled
    // rounds as t_bpe_bytes; the oracle maps final symbols to ids via
    // a base+merges vocab CTE.
    Gate("t_bpe_ids", (s, d) => {
      val fx = concat(lit("The "),
        upper(expr("substring(text, 1, 3)")), expr("substring(text, 4)"),
        lit("  #"), (col("doc_id") % 100).cast("string"),
        lit(", End.\n\ttail  42 "))
      val docs = t(s, d, "documents").select(col("doc_id"), fx.as("fx"))
      val merges = graft.operators.Bpe.fit(docs, "fx", 6,
        minCount = 1L, byteLevel = true)
      val ids = graft.operators.Bpe.encodeIdsCol(col("fx"), merges)
      docs.select(col("doc_id"),
        array_join(ids.cast("array<string>"), " ").as("ids_str"),
        size(ids).as("n_ids"),
        graft.operators.Bpe.decodeIdsCol(ids, merges).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some(bpeIdsOracleSql)),

    // SPECIAL-token registry over the byte tokenizer (r13 —
    // functions.SpecialTokens + the specials-aware Bpe surface): the
    // SFT chat tags are RESERVED ids above the vocabulary
    // (256+nMerges+k), segmented atomically before pretokenization,
    // excluded from the fit corpus, and decoded back to their literal
    // text — so the whole rendered document round-trips byte-exactly
    // and loss_start is exact by construction (the prefix's id stream
    // is [user] ⧺ ids(' prompt ') ⧺ [assistant], a strict prefix of
    // the rendered stream for ANY prompt). FULL oracle: the
    // prompt/response halving, the segment corpus (tags stripped), six
    // training rounds over it, GPT-2 id mapping, and the per-document
    // [262] seg1 [263] seg2 assembly with the boundary arithmetic.
    Gate("t_bpe_specials", (s, d) => {
      val tk = filter(graft.operators.Decontaminate.tokens(col("text")),
        w => length(w) > 0)
      val n = size(tk)
      val half = floor((n + lit(1)) / lit(2)).cast("int")
      val pairs = t(s, d, "documents").select(col("doc_id"),
          array_join(slice(tk, lit(1), half), " ").as("prompt"),
          array_join(slice(tk, half + 1, n - half), " ").as("response"))
        .filter(length(col("response")) > 0)
      val sp = graft.operators.Sft.Specials
      val rendered = pairs.withColumn("rendered",
        graft.operators.Sft.render(col("prompt"), col("response")))
      val merges = graft.operators.Bpe.fit(rendered, "rendered", 6,
        minCount = 1L, byteLevel = true, specials = sp)
      val base = 256 + merges.size
      val ids = graft.operators.Bpe.encodeIdsCol(col("rendered"),
        merges, sp)
      rendered.select(col("doc_id"),
          array_join(ids.cast("array<string>"), " ").as("ids_str"),
          size(ids).as("n_ids"),
          size(filter(ids, i => i >= lit(base))).as("n_special"),
          graft.operators.Sft.lossStart(col("prompt"), merges, sp)
            .as("loss_start"),
          graft.operators.Bpe.decodeIdsCol(ids, merges, sp).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some(bpeSpecialsOracleSql)),

    // The specials-aware artifact FILE round trip (r13): the same
    // table + tags through vocab.json/merges.txt + added_tokens.json
    // (the HF convention — specials as a flat {token: id} object with
    // ids contiguous above the learned vocabulary), loaded back, and
    // the LOADED pair drives the same specials-aware encode → the same
    // full oracle as t_bpe_specials.
    Gate("t_bpe_specials_export_rt", (s, d) => {
      val tk = filter(graft.operators.Decontaminate.tokens(col("text")),
        w => length(w) > 0)
      val n = size(tk)
      val half = floor((n + lit(1)) / lit(2)).cast("int")
      val pairs = t(s, d, "documents").select(col("doc_id"),
          array_join(slice(tk, lit(1), half), " ").as("prompt"),
          array_join(slice(tk, half + 1, n - half), " ").as("response"))
        .filter(length(col("response")) > 0)
      val rendered = pairs.withColumn("rendered",
        graft.operators.Sft.render(col("prompt"), col("response")))
      val fitted = graft.operators.Bpe.fit(rendered, "rendered", 6,
        minCount = 1L, byteLevel = true, specials = graft.operators.Sft.Specials)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_gpt2_sp_rt").toString
      graft.sinks.TokenizerFiles.writeGpt2(dir, fitted,
        graft.operators.Sft.Specials)
      val (merges, sp) =
        graft.sinks.TokenizerFiles.readGpt2WithSpecials(dir)
      val base = 256 + merges.size
      val ids = graft.operators.Bpe.encodeIdsCol(col("rendered"),
        merges, sp)
      rendered.select(col("doc_id"),
          array_join(ids.cast("array<string>"), " ").as("ids_str"),
          size(ids).as("n_ids"),
          size(filter(ids, i => i >= lit(base))).as("n_special"),
          graft.operators.Sft.lossStart(col("prompt"), merges, sp)
            .as("loss_start"),
          graft.operators.Bpe.decodeIdsCol(ids, merges, sp).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some(bpeSpecialsOracleSql)),

    // Spanning-layout sequence EMIT (r11): the GPT-style pretraining
    // artifact — documents cross sequence boundaries, so each explodes
    // into per-sequence slice portions before one (shard, seq)
    // aggregate. Synthetic deterministic ids isolate the layout/emit
    // arithmetic (the real-tokenizer path is t_sft_artifact); the
    // oracle replays the cumsum placement, the slice bounds, the
    // portion concatenation, padding, and the new-document start
    // offsets (the attention-reset list).
    Gate("t_pack_emit", (s, d) => {
      val docs = t(s, d, "documents")
      val withIds = docs.select(col("doc_id"),
        transform(sequence(lit(1L), expr("(n_chars div 4) + 1L")),
          i => ((col("doc_id") * 37 + i * 13) % 1000).cast("int"))
          .as("ids"))
        .withColumn("n", size(col("ids")))
      val layout = graft.operators.Packing.packedLayout(withIds,
        "doc_id", "n", budget = 512L, shards = 4, salt = "pe11")
      val placed = layout.join(withIds, "doc_id")
      graft.operators.Packing.emitPacked(placed, "ids", 512L, padId = 0)
        .select(col("shard"), col("seq"), col("n_docs"), col("n_tokens"),
          array_join(col("input_ids").cast("array<string>"), " ")
            .as("input_ids_str"),
          array_join(col("doc_starts").cast("array<string>"), " ")
            .as("doc_starts_str"))
        .orderBy(col("shard"), col("seq"))
    },
      Some("""WITH d0 AS (
        |  SELECT doc_id, n_chars // 4 + 1 AS n,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pe11'), 1, 8)
        |      AS BIGINT) % 4 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, shard,
        |    CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS bef
        |  FROM d0),
        |parts AS (
        |  SELECT shard, doc_id, n, bef, k AS seq,
        |    greatest(k * 512, bef) AS s,
        |    least((k + 1) * 512, bef + n) AS e
        |  FROM c, unnest(range(bef // 512, (bef + n - 1) // 512 + 1)) AS t(k)),
        |pids AS (
        |  SELECT shard, seq, s, e, bef,
        |    string_agg(CAST((doc_id * 37 + i * 13) % 1000 AS VARCHAR),
        |      ' ' ORDER BY i) AS portion
        |  FROM parts, unnest(range(s - bef + 1, e - bef + 1)) AS t(i)
        |  GROUP BY shard, seq, s, e, bef, doc_id),
        |seqs AS (
        |  SELECT shard, seq, COUNT(*) AS n_docs,
        |    CAST(SUM(e - s) AS INTEGER) AS n_tokens,
        |    string_agg(portion, ' ' ORDER BY s) AS raw,
        |    COALESCE(string_agg(CASE WHEN s = bef
        |        THEN CAST(s - seq * 512 AS VARCHAR) END,
        |      ' ' ORDER BY s), '') AS doc_starts_str
        |  FROM pids GROUP BY shard, seq)
        |SELECT shard, seq, n_docs, n_tokens,
        |  CASE WHEN n_tokens = 512 THEN raw
        |    ELSE raw || repeat(' 0', 512 - n_tokens) END AS input_ids_str,
        |  doc_starts_str
        |FROM seqs
        |ORDER BY shard ASC NULLS FIRST, seq ASC NULLS FIRST""".stripMargin)),

    // SFT chat-template rendering + the exact TOKEN-level loss-mask
    // boundary (r12 — operators.Sft): (prompt, response) pairs (the
    // doc's token halves) render to `<|user|> p <|assistant|> r`, and
    // loss_start = id-count of the rendered prefix under the byte
    // table trained on the rendered corpus — exact because a pretoken
    // never crosses the prefix/response junction (the space starts a
    // new ` word` pretoken) and merges never cross pretokens. FULL
    // oracle: the halving, the render, six training rounds, and the
    // first-K-pretokens piece-count sum.
    Gate("t_sft_template", (s, d) => {
      val tk = filter(graft.operators.Decontaminate.tokens(col("text")),
        w => length(w) > 0)
      val n = size(tk)
      val half = floor((n + lit(1)) / lit(2)).cast("int")
      val pairs = t(s, d, "documents").select(col("doc_id"),
          array_join(slice(tk, lit(1), half), " ").as("prompt"),
          array_join(slice(tk, half + 1, n - half), " ").as("response"))
        .filter(length(col("response")) > 0)
      val rendered = pairs.withColumn("rendered",
        graft.operators.Sft.render(col("prompt"), col("response")))
      val merges = graft.operators.Bpe.fit(rendered, "rendered", 6,
        minCount = 1L, byteLevel = true)
      rendered.select(col("doc_id"),
          size(graft.operators.Bpe.encodeIdsCol(col("rendered"), merges))
            .as("n_ids"),
          graft.operators.Sft.lossStart(col("prompt"), merges)
            .as("loss_start"))
        .withColumn("mask_permille", expr("loss_start * 1000 div n_ids"))
        .orderBy(col("doc_id"))
    },
      Some {
        val pat =
          """ ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+"""
        """WITH tk0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |    array_to_string(tk[1:CAST((len(tk) + 1) // 2 AS INTEGER)], ' ')
        |      AS prompt,
        |    array_to_string(tk[CAST((len(tk) + 1) // 2 + 1 AS INTEGER):len(tk)], ' ')
        |      AS response
        |  FROM tk0
        |  WHERE length(array_to_string(tk[CAST((len(tk) + 1) // 2 + 1 AS INTEGER):len(tk)], ' ')) > 0),
        |""".stripMargin +
          bpeBytesChainSql(
            "'<|user|> ' || prompt || ' <|assistant|> ' || response", 6,
            from = "pairs", lead = "") +
          s""",
        |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS np
        |  FROM st6 GROUP BY word),
        |kpre AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_extract_all(
        |      '<|user|> ' || prompt || ' <|assistant|>', '$pat'),
        |      x -> length(x) > 0)) AS k
        |  FROM pairs),
        |ls AS (
        |  SELECT d.doc_id,
        |    CAST(SUM(w.np) AS INTEGER) AS n_ids,
        |    CAST(SUM(CASE WHEN d.tpos <= kp.k THEN w.np ELSE 0 END)
        |      AS INTEGER) AS loss_start
        |  FROM dtok d JOIN wc w USING (word) JOIN kpre kp USING (doc_id)
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_ids, loss_start,
        |  CAST(loss_start AS BIGINT) * 1000 // n_ids AS mask_permille
        |FROM ls
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
      }),

    // Length-bucketed batching (r12 — Packing.lengthBatches): fixed
    // row-count batches of length-sorted docs so each batch pads to its
    // OWN max — the dynamic-batching layout every serving stack and SFT
    // eval loop applies. Global rank is the range-partitioned Ordinals
    // form (no single-partition window); per-batch stats are one keyed
    // aggregate. FULL oracle: the total order, the div/mod batch
    // arithmetic and the padding waste replayed per row.
    Gate("t_length_batches", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextSignals.tokens(col("text")).cast(LongType)
          .as("t"))
      graft.operators.Packing.lengthBatches(docs, "doc_id", "t", 32)
        .select(col("doc_id"), col("batch"), col("batch_pos"),
          col("batch_max"), col("pad_waste"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH lb0 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS t
        |  FROM documents),
        |lbr AS (
        |  SELECT doc_id, t,
        |    ROW_NUMBER() OVER (ORDER BY t ASC, doc_id ASC) AS rk
        |  FROM lb0),
        |lbb AS (
        |  SELECT doc_id, t, (rk - 1) // 32 AS batch,
        |    CAST((rk - 1) % 32 AS INTEGER) AS batch_pos
        |  FROM lbr),
        |lbm AS (SELECT batch, MAX(t) AS batch_max FROM lbb GROUP BY batch)
        |SELECT doc_id, batch, batch_pos, batch_max,
        |  batch_max - t AS pad_waste
        |FROM lbb JOIN lbm USING (batch)
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // position_ids over the emitted spanning layout (r12 —
    // Packing.positionIds): the third trainer column — positions count
    // within each document span, restart at every doc_start (and at
    // sequence start for mid-document continuations, the standard
    // packed-pretraining approximation), 0 in padding. Same synthetic
    // chain as t_pack_emit; the oracle additionally replays every
    // position cell from the doc_starts list.
    Gate("t_position_ids", (s, d) => {
      val docs = t(s, d, "documents")
      val withIds = docs.select(col("doc_id"),
        transform(sequence(lit(1L), expr("(n_chars div 4) + 1L")),
          i => ((col("doc_id") * 37 + i * 13) % 1000).cast("int"))
          .as("ids"))
        .withColumn("n", size(col("ids")))
      val layout = graft.operators.Packing.packedLayout(withIds,
        "doc_id", "n", budget = 512L, shards = 4, salt = "pe11")
      val placed = layout.join(withIds, "doc_id")
      graft.operators.Packing.emitPacked(placed, "ids", 512L, padId = 0)
        .select(col("shard"), col("seq"), col("n_tokens"),
          array_join(graft.operators.Packing.positionIds(
            col("doc_starts"), col("n_tokens"), 512L)
            .cast("array<string>"), " ").as("position_ids_str"))
        .orderBy(col("shard"), col("seq"))
    },
      Some("""WITH d0 AS (
        |  SELECT doc_id, n_chars // 4 + 1 AS n,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pe11'), 1, 8)
        |      AS BIGINT) % 4 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, shard,
        |    CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS bef
        |  FROM d0),
        |parts AS (
        |  SELECT shard, doc_id, n, bef, k AS seq,
        |    greatest(k * 512, bef) AS s,
        |    least((k + 1) * 512, bef + n) AS e
        |  FROM c, unnest(range(bef // 512, (bef + n - 1) // 512 + 1)) AS t(k)),
        |seqs AS (
        |  SELECT shard, seq,
        |    CAST(SUM(e - s) AS BIGINT) AS n_tokens,
        |    COALESCE(list(s - seq * 512 ORDER BY s)
        |      FILTER (WHERE s = bef), CAST([] AS BIGINT[])) AS starts
        |  FROM parts GROUP BY shard, seq)
        |SELECT shard, seq, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  array_to_string(list_transform(range(0, 512), i ->
        |    CASE WHEN i >= n_tokens THEN 0
        |      ELSE i - list_max(list_filter([CAST(0 AS BIGINT)] || starts,
        |        x -> x <= i)) END), ' ') AS position_ids_str
        |FROM seqs
        |ORDER BY shard ASC NULLS FIRST, seq ASC NULLS FIRST""".stripMargin)),

    // EXACT spanning positions (r13 — Packing.positionIdsExact +
    // emitPacked's first_doc_offset): a sequence that begins
    // mid-document counts its continuation's positions from the TRUE
    // in-document offset (first_doc_offset = seq·budget − the leading
    // document's cumulative start) instead of the restart-at-0
    // approximation; the aligned path is unchanged (offset 0
    // everywhere). Same synthetic chain as t_position_ids; the oracle
    // additionally replays the offset and adds it to every
    // leading-segment cell — a continuation's first position EQUALS
    // its in-document offset by construction.
    Gate("t_position_ids_exact", (s, d) => {
      val docs = t(s, d, "documents")
      val withIds = docs.select(col("doc_id"),
        transform(sequence(lit(1L), expr("(n_chars div 4) + 1L")),
          i => ((col("doc_id") * 37 + i * 13) % 1000).cast("int"))
          .as("ids"))
        .withColumn("n", size(col("ids")))
      val layout = graft.operators.Packing.packedLayout(withIds,
        "doc_id", "n", budget = 512L, shards = 4, salt = "pe11")
      val placed = layout.join(withIds, "doc_id")
      graft.operators.Packing.emitPacked(placed, "ids", 512L, padId = 0)
        .select(col("shard"), col("seq"), col("n_tokens"),
          col("first_doc_offset"),
          array_join(graft.operators.Packing.positionIdsExact(
            col("doc_starts"), col("first_doc_offset"), col("n_tokens"),
            512L).cast("array<string>"), " ").as("position_ids_str"))
        .orderBy(col("shard"), col("seq"))
    },
      Some("""WITH d0 AS (
        |  SELECT doc_id, n_chars // 4 + 1 AS n,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pe11'), 1, 8)
        |      AS BIGINT) % 4 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, shard,
        |    CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS bef
        |  FROM d0),
        |parts AS (
        |  SELECT shard, doc_id, n, bef, k AS seq,
        |    greatest(k * 512, bef) AS s,
        |    least((k + 1) * 512, bef + n) AS e
        |  FROM c, unnest(range(bef // 512, (bef + n - 1) // 512 + 1)) AS t(k)),
        |seqs AS (
        |  SELECT shard, seq,
        |    CAST(SUM(e - s) AS BIGINT) AS n_tokens,
        |    COALESCE(list(s - seq * 512 ORDER BY s)
        |      FILTER (WHERE s = bef), CAST([] AS BIGINT[])) AS starts,
        |    greatest(0, seq * 512 - MIN(bef)) AS fdo
        |  FROM parts GROUP BY shard, seq)
        |SELECT shard, seq, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  fdo AS first_doc_offset,
        |  array_to_string(list_transform(range(0, 512), i ->
        |    CASE WHEN i >= n_tokens THEN 0
        |      ELSE i - list_max(list_filter([CAST(0 AS BIGINT)] || starts,
        |        x -> x <= i))
        |      + (CASE WHEN list_max(list_filter([CAST(0 AS BIGINT)] || starts,
        |          x -> x <= i)) = 0 THEN fdo ELSE 0 END)
        |    END), ' ') AS position_ids_str
        |FROM seqs
        |ORDER BY shard ASC NULLS FIRST, seq ASC NULLS FIRST""".stripMargin)),

    // The r11 FLAGSHIP composition — the complete SFT-artifact path:
    // byte-level tokenizer fit → token-id encode → best-fit-decreasing
    // document-aligned layout → padded fixed-length sequences
    // (input_ids + n_tokens, the loss-mask boundary), one SQL oracle
    // replaying tokenizer rounds, GPT-2 id mapping, the BFD fold AND
    // the padding arithmetic end to end.
    Gate("t_sft_artifact", (s, d) => {
      val fx = concat(lit("The "),
        upper(expr("substring(text, 1, 3)")), expr("substring(text, 4)"),
        lit("  #"), (col("doc_id") % 100).cast("string"),
        lit(", End.\n\ttail  42 "))
      val docs = t(s, d, "documents").select(col("doc_id"), fx.as("fx"))
      val merges = graft.operators.Bpe.fit(docs, "fx", 6,
        minCount = 1L, byteLevel = true)
      val enc = docs.select(col("doc_id"),
        graft.operators.Bpe.encodeIdsCol(col("fx"), merges).as("ids"))
        .withColumn("n_ids", size(col("ids")))
      val layout = graft.operators.Packing.binLayout(enc, "doc_id",
        "n_ids", budget = 1024L, shards = 4, salt = "sft11",
        decreasing = true, bestFit = true)
      val placed = layout.join(enc, "doc_id")
      graft.operators.Packing.emitAligned(placed, "ids", 1024L,
        padId = 0)
        .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
          array_join(col("input_ids").cast("array<string>"), " ")
            .as("input_ids_str"),
          array_join(col("doc_starts").cast("array<string>"), " ")
            .as("doc_starts_str"))
        .orderBy(col("shard"), col("bin"))
    },
      Some(sftArtifactOracleSql)),

    // Unigram-LM model table (operators.Unigram — the SentencePiece
    // family, third tokenizer next to BPE/WordPiece): candidate
    // substrings (all chars + top-16 multi-char by frequency), integer
    // bitlen costs, ONE Viterbi hard-EM refinement (segment → recount
    // → add-one smooth → recost). FULL oracle: the candidate counts,
    // the cost arithmetic, and pass-1's entire unrolled DP replayed.
    Gate("t_unigram_model", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Unigram.modelFrame(s,
        graft.operators.Unigram.fitEm(docs, "text", topMulti = 16))
        .orderBy(col("piece"))
    },
      Some(unigramModelOracleSql)),

    // Unigram-LM document encode: Viterbi segmentation of every doc
    // under the refined model — min total cost, ties (pieces ASC,
    // length DESC), native compiled DP (UnigramEncodeExpr), zero
    // shuffles. FULL oracle: the model chain plus a SECOND unrolled DP
    // pass and ordered document reassembly.
    Gate("t_unigram", (s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.Unigram.fitEm(docs, "text",
        topMulti = 16)
      docs.select(col("doc_id"),
        graft.operators.Unigram.encodeCol(col("text"), model).as("__p"))
        .select(col("doc_id"),
          array_join(col("__p"), " ").as("ug"),
          when(col("__p").isNotNull, size(col("__p")).cast("long"))
            .as("n_pieces"))
        .orderBy(col("doc_id"))
    },
      Some(unigramDocOracleSql)),

    // SentencePiece-style piece-list FILE round trip (r12 —
    // sinks.TokenizerFiles): the refined model exported as a
    // piece/freq/cost_bits TSV, loaded back, and the LOADED model
    // drives the same compiled Viterbi encode — green iff the TSV
    // carries the exact integer costs. Same columns as t_unigram → the
    // same full oracle.
    Gate("t_unigram_export_rt", (s, d) => {
      val docs = t(s, d, "documents")
      val path = java.nio.file.Files
        .createTempDirectory("graft_sp_rt").toString + "/pieces.tsv"
      graft.sinks.TokenizerFiles.writeUnigramTsv(path,
        graft.operators.Unigram.fitEm(docs, "text", topMulti = 16))
      val model = graft.sinks.TokenizerFiles.readUnigramTsv(path)
      docs.select(col("doc_id"),
        graft.operators.Unigram.encodeCol(col("text"), model).as("__p"))
        .select(col("doc_id"),
          array_join(col("__p"), " ").as("ug"),
          when(col("__p").isNotNull, size(col("__p")).cast("long"))
            .as("n_pieces"))
        .orderBy(col("doc_id"))
    },
      Some(unigramDocOracleSql)),

    // Unigram SPECIAL tokens (r13): the third family's reserved-id
    // overlay — ids N+1+k above the sorted piece layout, atomic
    // case-exact segmentation before the lowercasing tokenizer, the
    // tagged stream = [N+1] ⧺ ids(text) ⧺ [N+2]. Oracle: the
    // hb_unigram_ids chain with the piece count and the two reserved
    // ids spliced on.
    // Unigram BYTE FALLBACK through the STORED-MODEL workflow (r13 —
    // Unigram.withByteFallback + the <0xXX>-aware DP): fit persists
    // under a LineageCache key, a SECOND cache instance ("fresh
    // session") loads it without refitting, the model upgrades with
    // the 256 byte pieces and round-trips the TSV interchange, and the
    // LOADED model encodes a corpus whose alphabet EXCEEDS the fit
    // corpus's (appended ' café€' word — é 2 UTF-8 bytes, € 3): no
    // word collapses to [UNK] (n_unk = 0 hashed per doc), covered text
    // segments IDENTICALLY to the un-upgraded model (the penalty cost
    // participates in no real path), and the unseen characters emit
    // their exact byte pieces. FULL oracle: the unchanged model chain
    // + the fallback DP over the extended word table, byte expansion
    // replayed from hex(encode(char)).
    Gate("t_unigram_fallback", (s, d) => {
      val docs = t(s, d, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft_ug_fb").toString
      val store1 = new graft.cache.LineageCache(s, root)
      graft.operators.Unigram.fitStored(docs, "text", 16, "fbcorpus",
        Some(store1))
      val store2 = new graft.cache.LineageCache(s, root)
      val model = graft.operators.Unigram.withByteFallback(
        graft.operators.Unigram.fitStored(docs, "text", 16, "fbcorpus",
          Some(store2)))
      val path = root + "/pieces_fb.tsv"
      graft.sinks.TokenizerFiles.writeUnigramTsv(path, model)
      val loaded = graft.sinks.TokenizerFiles.readUnigramTsv(path)
      // " caf" + e-acute (U+00E9, 2 UTF-8 bytes) + euro (U+20AC, 3) —
      // escapes keep the source ASCII (the TextNorm precedent)
      val fixture = docs.select(col("doc_id"),
        concat(col("text"), lit(" caf\u00e9\u20ac")).as("fx"))
      val pieces = graft.operators.Unigram.encodeCol(col("fx"), loaded)
      fixture.select(col("doc_id"),
          array_join(pieces, " ").as("ug"),
          size(pieces).cast("long").as("n_pieces"),
          size(filter(pieces, p => p === "[UNK]")).cast("long")
            .as("n_unk"))
        .orderBy(col("doc_id"))
    },
      Some(unigramFallbackOracleSql)),

    Gate("t_unigram_specials", (s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.Unigram.fitEm(docs, "text",
        topMulti = 16)
      val sp = Seq("<|DOC|>", "<|END|>")
      val tagged = docs.select(col("doc_id"),
        concat(lit("<|DOC|> "), col("text"), lit(" <|END|>")).as("tagged"))
      val ids = graft.operators.Unigram.encodeIdsCol(col("tagged"),
        model, sp, 6)
      tagged.select(col("doc_id"),
          array_join(ids.cast("array<string>"), " ").as("ids_str"),
          size(ids).cast("long").as("n_ids"))
        .orderBy(col("doc_id"))
    },
      Some(unigramSpecialsOracleSql)),

    // Unigram TAGS artifact round trip (r15 — closes the r14 asymmetry
    // where only byte-BPE round-tripped specials through the
    // interchange files): the fitted model AND the reserved tags export
    // as pieces.tsv + added_tokens.json (ids contiguous above the
    // sorted piece layout), load back, and the LOADED pair drives the
    // same specials-aware encode — green iff the directory carries the
    // model and the tag ids losslessly. Same chain as
    // t_unigram_specials → the same full oracle.
    Gate("t_unigram_tags_export_rt", (s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.Unigram.fitEm(docs, "text",
        topMulti = 16)
      val sp = Seq("<|DOC|>", "<|END|>")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ug_tags_rt").toString
      graft.sinks.TokenizerFiles.writeUnigramModel(dir, model, sp)
      val (m2, sp2) =
        graft.sinks.TokenizerFiles.readUnigramModelWithSpecials(dir)
      val tagged = docs.select(col("doc_id"),
        concat(lit("<|DOC|> "), col("text"), lit(" <|END|>")).as("tagged"))
      val ids = graft.operators.Unigram.encodeIdsCol(col("tagged"),
        m2, sp2, 6)
      tagged.select(col("doc_id"),
          array_join(ids.cast("array<string>"), " ").as("ids_str"),
          size(ids).cast("long").as("n_ids"))
        .orderBy(col("doc_id"))
    },
      Some(unigramSpecialsOracleSql)),

    // Unigram-LM prune-EM to an EXACT target vocabulary (r12 —
    // operators.Unigram.fitTarget, the SentencePiece outer loop): seed
    // 2·96 multi-char candidates over the 24-char alphabet, alternate
    // hard-EM recounts with integer likelihood-loss pruning (loss =
    // freq · (altCost − cost), single characters never pruned) until
    // |vocab| = 96 exactly. The prune loop is a driver-side DP over the
    // model table (model-sized, not data-sized), so the oracle checks
    // the two invariants that survive SQL: the EXACT requested size
    // (96 AS vocab_size — a drifting fit hash-mismatches) and the
    // character-coverage reconstruction (pieces concatenate back to
    // the space-stripped corpus, [UNK]-free by the coverage
    // invariant); UnigramSpec pins the prune semantics.
    Gate("t_unigram_target", (s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.Unigram.fitTarget(docs, "text",
        targetVocab = 96, maxPieceLen = 6, seedMult = 2,
        prunePermille = 500)
      docs.select(col("doc_id"),
        lit(model.size).as("vocab_size"),
        array_join(graft.operators.Unigram.encodeCol(col("text"), model),
          "").as("glued"))
        .orderBy(col("doc_id"))
    },
      Some("""SELECT doc_id, 96 AS vocab_size,
             |  replace(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ', '')
             |    AS glued
             |FROM documents
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // WordPiece token IDS (the BERT input_ids artifact): the same
    // greedy walk with pieces mapped through the vocabFrame layout
    // ([UNK]=0, sorted vocabulary at 1..N) — t_wordpiece_vocab is the
    // exact decoder table. Oracle: rounds + vocabulary + walk + the
    // ROW_NUMBER id assignment + per-document reassembly.
    Gate("t_wordpiece_ids", (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = graft.operators.WordPiece
        .fit(docs, "text", 6, minCount = 1L)._2
      docs.select(col("doc_id"),
        graft.operators.WordPiece.encodeIdsCol(col("text"), vocab)
          .as("__ids"))
        .select(col("doc_id"),
          array_join(col("__ids").cast("array<string>"), " ").as("ids_str"),
          when(col("__ids").isNotNull, size(col("__ids")).cast("long"))
            .as("n_ids"))
        .orderBy(col("doc_id"))
    },
      Some(wordPieceIdsOracleSql)),

    // WordPiece SPECIAL tokens (r13): reserved ids N+1+k stacked on
    // the vocabFrame layout, segmented atomically BEFORE the
    // lowercasing tokenizer (the uppercase-tag fixture would otherwise
    // be destroyed by lower()); the tagged document's stream is
    // [N+1] ⧺ ids(text) ⧺ [N+2]. Oracle: the t_wordpiece_ids chain
    // with the vocabulary count and the two reserved ids spliced on.
    Gate("t_wordpiece_specials", (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = graft.operators.WordPiece
        .fit(docs, "text", 6, minCount = 1L)._2
      val sp = Seq("<|DOC|>", "<|END|>")
      val tagged = docs.select(col("doc_id"),
        concat(lit("<|DOC|> "), col("text"), lit(" <|END|>")).as("tagged"))
      val ids = graft.operators.WordPiece.encodeIdsCol(col("tagged"),
        vocab, sp, 16)
      tagged.select(col("doc_id"),
          array_join(ids.cast("array<string>"), " ").as("ids_str"),
          size(ids).cast("long").as("n_ids"))
        .orderBy(col("doc_id"))
    },
      Some(wordPieceSpecialsOracleSql)),

    // WordPiece TAGS artifact round trip (r15): vocabulary AND reserved
    // tags export as vocab.txt + added_tokens.json (ids contiguous
    // above the [UNK]+sorted layout), load back, and the LOADED pair
    // drives the same specials-aware encode — the BERT-style twin of
    // t_bpe_specials_export_rt. Same chain as t_wordpiece_specials →
    // the same full oracle.
    Gate("t_wordpiece_tags_export_rt", (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = graft.operators.WordPiece
        .fit(docs, "text", 6, minCount = 1L)._2
      val sp = Seq("<|DOC|>", "<|END|>")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_bert_tags_rt").toString
      graft.sinks.TokenizerFiles.writeBert(dir, vocab, sp)
      val (v2, sp2) =
        graft.sinks.TokenizerFiles.readBertWithSpecials(dir)
      val tagged = docs.select(col("doc_id"),
        concat(lit("<|DOC|> "), col("text"), lit(" <|END|>")).as("tagged"))
      val ids = graft.operators.WordPiece.encodeIdsCol(col("tagged"),
        v2, sp2, 16)
      tagged.select(col("doc_id"),
          array_join(ids.cast("array<string>"), " ").as("ids_str"),
          size(ids).cast("long").as("n_ids"))
        .orderBy(col("doc_id"))
    },
      Some(wordPieceSpecialsOracleSql)),

    // Preference-pair (DPO) artifact emitter (operators.Preference):
    // 4 candidate "responses" per synthetic prompt (doc_id div 4), an
    // integer score with planted collisions ((n_chars·31 + doc_id·7)
    // mod 1000), best-vs-worst pairing with deterministic tie-breaks
    // (chosen: smallest id at max score; rejected: largest id at min
    // score) and a ≥200 margin floor (some prompts drop). ONE keyed max_by/min_by
    // aggregation — no window, no self-join; the oracle replays the
    // pairing, tie-breaks, margin filter and candidate counts.
    Gate("t_dpo_pairs", (s, d) => {
      val cand = t(s, d, "documents").select(
        expr("doc_id div 4").as("prompt_id"), col("doc_id"), col("text"),
        ((col("n_chars") * 31 + col("doc_id") * 7) % 1000).as("score_fp"))
      graft.operators.Preference.preferencePairs(cand, "prompt_id",
        "doc_id", "text", "score_fp", minMarginFp = 200L)
        .orderBy(col("prompt_id"))
    },
      Some("""WITH cand AS (
        |  SELECT doc_id // 4 AS prompt_id, doc_id, text,
        |    (n_chars * 31 + doc_id * 7) % 1000 AS score_fp
        |  FROM documents),
        |r1 AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY prompt_id
        |      ORDER BY score_fp DESC, doc_id ASC) AS rc,
        |    ROW_NUMBER() OVER (PARTITION BY prompt_id
        |      ORDER BY score_fp ASC, doc_id DESC) AS rr,
        |    COUNT(*) OVER (PARTITION BY prompt_id) AS n
        |  FROM cand),
        |ch AS (SELECT prompt_id, doc_id AS chosen_id, text AS chosen,
        |         score_fp AS chosen_score_fp, n FROM r1 WHERE rc = 1),
        |rj AS (SELECT prompt_id, doc_id AS rejected_id, text AS rejected,
        |         score_fp AS rejected_score_fp FROM r1 WHERE rr = 1)
        |SELECT prompt_id, chosen_id, rejected_id, chosen, rejected,
        |  chosen_score_fp, rejected_score_fp,
        |  chosen_score_fp - rejected_score_fp AS margin_fp,
        |  n AS n_candidates
        |FROM ch JOIN rj USING (prompt_id)
        |WHERE n >= 2 AND chosen_score_fp - rejected_score_fp >= 200
        |ORDER BY prompt_id ASC NULLS FIRST""".stripMargin)),

    // Fill-in-the-middle transform (r12 — operators.SpanCorrupt.fim,
    // Bavarian et al. 2022): a deterministic 90% of docs reorder PSM
    // (<PRE> prefix <SUF> suffix <MID> middle) under two salted-md5 cut
    // draws over [0, n]; the rest pass through — the mixed infilling
    // objective code models pretrain with. Pure narrow map, zero
    // shuffles. FULL oracle: the rate bucket, both cut draws and every
    // token boundary replayed.
    Gate("t_fim", (s, d) =>
      graft.operators.SpanCorrupt.fim(
        t(s, d, "documents"), "doc_id", "text", fimPermille = 900)
        .select(col("doc_id"), col("fim"), col("fim_applied"),
          col("n_tokens"))
        .orderBy(col("doc_id")),
      Some(fimOracleSql)),

    // FIM sentinels as RESERVED ids (r13 — SpanCorrupt.FimSpecials
    // through the specials-aware byte encode): each <PRE>/<SUF>/<MID>
    // is ONE dedicated id (n_special = 3 exactly when the transform
    // applied, 0 otherwise — atomicity made countable), the sentinel
    // text is excluded from the fit, and the id stream decodes back to
    // the fim string byte-exactly (the full-text `decoded` column is
    // the losslessness hash). Oracle: the fim chain replayed + the
    // sentinel count + the identity decode.
    Gate("t_fim_specials", (s, d) => {
      val fimDf = graft.operators.SpanCorrupt.fim(
        t(s, d, "documents"), "doc_id", "text", fimPermille = 900)
      val sp = graft.operators.SpanCorrupt.FimSpecials
      val merges = graft.operators.Bpe.fit(fimDf, "fim", 6,
        minCount = 1L, byteLevel = true, specials = sp)
      val base = 256 + merges.size
      val ids = graft.operators.Bpe.encodeIdsCol(col("fim"), merges, sp)
      fimDf.select(col("doc_id"), col("fim_applied"),
          size(filter(ids, i => i >= lit(base))).as("n_special"),
          graft.operators.Bpe.decodeIdsCol(ids, merges, sp).as("decoded"))
        .orderBy(col("doc_id"))
    },
      Some(fimSpecialsOracleSql)),

    // FIM → TRAINER IDS with reserved sentinels, all in ONE program
    // (r13 — the `tags` clause on `bpe ids` + the metadata-bound
    // `decode ids`): the sentinels are single atomic ids (262/263/264
    // above the 6-merge vocabulary), their text never reaches the fit,
    // and the id stream decodes back to the fim string byte-exactly —
    // corpus → infilling-objective input_ids as four DSL statements.
    // ONE oracle replays the cut chain, the segment-corpus fit, the id
    // mapping, the reserved-id splices and the decode identity.
    Gate("hb_fim_ids", (s, d) =>
      graft.hb.Graft.runHb(
        """index rows by doc_id
          |fim text
          |bpe ids fim 6 tags '<PRE>' '<SUF>' '<MID>'
          |decode ids token_ids
          |create column doc_id keys
          |slice columns doc_id token_ids n_ids text_decoded
          |""".stripMargin, t(s, d, "documents"))
        .select(col("doc_id"),
          concat_ws(" ", col("token_ids")).as("ids_str"),
          col("n_ids"),
          size(filter(col("token_ids"), i => i >= lit(262)))
            .as("n_special"),
          col("text_decoded").as("decoded"))
        .orderBy(col("doc_id")),
      Some(hbFimIdsOracleSql)),

    // The `.hb` statement twin (r12 — `fim text`): identical salted
    // draws keyed on the frame index, so it shares t_fim's oracle.
    Gate("hb_fim",
      (s, d) => graft.hb.Graft.runHb(
        """index rows by doc_id
          |fim text
          |create column doc_id keys
          |slice columns doc_id fim fim_applied n_tokens
          |""".stripMargin, t(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some(fimOracleSql)),

    // T5-style span corruption (operators.SpanCorrupt): the denoising
    // objective's (inp, tgt) artifact — salted-md5 span starts/lengths
    // (engine-portable), overlapping spans merge into one sentinel run,
    // ONE narrow fold per doc (zero shuffles). FULL oracle: the mask
    // layout, run detection, sentinel numbering and both emitted
    // streams replayed per token.
    Gate("t_span_corrupt", (s, d) =>
      graft.operators.SpanCorrupt.corrupt(
        t(s, d, "documents"), "doc_id", "text", rateK = 6)
        .select(col("doc_id"), col("inp"), col("tgt"), col("n_masked"))
        .orderBy(col("doc_id")),
      Some(s"""WITH tok AS (
        |  SELECT doc_id, string_split(lower($normSql), ' ') AS tk
        |  FROM documents),
        |pos0 AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i0, tk[CAST(i AS INTEGER)] AS tok
        |  FROM tok, unnest(range(1, len(tk) + 1)) t(i)
        |  WHERE length(tk[CAST(i AS INTEGER)]) > 0),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, tok,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i0) AS i
        |  FROM pos0),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, tok, i,
        |    (CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(i AS VARCHAR) || ':span'), 1, 8) AS BIGINT) % 6 = 0) AS s,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(i AS VARCHAR) || ':span:len'), 1, 8) AS BIGINT) % 3 + 1 AS l
        |  FROM pos),
        |mk AS (
        |  SELECT *, (s AND l >= 1)
        |    OR (COALESCE(LAG(s, 1) OVER w, false)
        |        AND COALESCE(LAG(l, 1) OVER w, 0) >= 2)
        |    OR (COALESCE(LAG(s, 2) OVER w, false)
        |        AND COALESCE(LAG(l, 2) OVER w, 0) >= 3) AS m
        |  FROM ph WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |rn AS (
        |  SELECT *, (m AND NOT COALESCE(LAG(m) OVER w, false)) AS rstart
        |  FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |ks AS (
        |  SELECT *, SUM(CASE WHEN rstart THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY i) - 1 AS k
        |  FROM rn)
        |SELECT doc_id,
        |  COALESCE(string_agg(
        |    CASE WHEN NOT m THEN tok
        |      WHEN rstart THEN '<extra_id_' || k || '>' END,
        |    ' ' ORDER BY i), '') AS inp,
        |  COALESCE(string_agg(
        |    CASE WHEN m THEN
        |      CASE WHEN rstart THEN '<extra_id_' || k || '> ' || tok
        |        ELSE tok END END,
        |    ' ' ORDER BY i), '') AS tgt,
        |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
        |FROM ks
        |GROUP BY doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // T5 sentinels as RESERVED ids (r13 — SpanCorrupt.extraIdSpecials
    // through the specials-aware byte encode): every `<extra_id_k>` in
    // the corruption's input AND target is ONE dedicated id — the
    // per-doc reserved-id counts equal n_masked on both sides
    // (atomicity made countable; `<extra_id_1>`/`<extra_id_10>` cannot
    // shadow each other — the scanner is longest-match), and both id
    // streams decode back byte-exactly. Oracle: the span chain
    // replayed + the two counts + the identity decodes.
    Gate("t_span_corrupt_ids", (s, d) => {
      // corrupt's inp/tgt are interpreted aggregate folds; every
      // downstream reference (fit scan, two encodes, two decodes)
      // would re-evaluate them per row — truncate once (tiny frame:
      // one string pair per doc), the standard pipeline practice
      val sc = graft.Scope.checkpoint(graft.operators.SpanCorrupt.corrupt(
        t(s, d, "documents"), "doc_id", "text", rateK = 6)
        .select(col("doc_id"), col("inp"), col("tgt")),
        "t_span_corrupt_ids: corrupted")
      val sp = graft.operators.SpanCorrupt.extraIdSpecials(64)
      val merges = graft.operators.Bpe.fit(sc, "inp", 6,
        minCount = 1L, byteLevel = true, specials = sp)
      val base = 256 + merges.size
      val inpIds = graft.operators.Bpe.encodeIdsCol(col("inp"),
        merges, sp)
      val tgtIds = graft.operators.Bpe.encodeIdsCol(col("tgt"),
        merges, sp)
      sc.select(col("doc_id"),
          size(filter(inpIds, i => i >= lit(base))).as("n_special_inp"),
          size(filter(tgtIds, i => i >= lit(base))).as("n_special_tgt"),
          graft.operators.Bpe.decodeIdsCol(inpIds, merges, sp)
            .as("inp_decoded"),
          graft.operators.Bpe.decodeIdsCol(tgtIds, merges, sp)
            .as("tgt_decoded"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH tok AS (
        |  SELECT doc_id, string_split(lower($normSql), ' ') AS tk
        |  FROM documents),
        |pos0 AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i0, tk[CAST(i AS INTEGER)] AS tok
        |  FROM tok, unnest(range(1, len(tk) + 1)) t(i)
        |  WHERE length(tk[CAST(i AS INTEGER)]) > 0),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, tok,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i0) AS i
        |  FROM pos0),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, tok, i,
        |    (CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(i AS VARCHAR) || ':span'), 1, 8) AS BIGINT) % 6 = 0) AS s,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(i AS VARCHAR) || ':span:len'), 1, 8) AS BIGINT) % 3 + 1 AS l
        |  FROM pos),
        |mk AS (
        |  SELECT *, (s AND l >= 1)
        |    OR (COALESCE(LAG(s, 1) OVER w, false)
        |        AND COALESCE(LAG(l, 1) OVER w, 0) >= 2)
        |    OR (COALESCE(LAG(s, 2) OVER w, false)
        |        AND COALESCE(LAG(l, 2) OVER w, 0) >= 3) AS m
        |  FROM ph WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |rn AS (
        |  SELECT *, (m AND NOT COALESCE(LAG(m) OVER w, false)) AS rstart
        |  FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |ks AS (
        |  SELECT *, SUM(CASE WHEN rstart THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY i) - 1 AS k
        |  FROM rn),
        |sc AS (
        |  SELECT doc_id,
        |    COALESCE(string_agg(
        |      CASE WHEN NOT m THEN tok
        |        WHEN rstart THEN '<extra_id_' || k || '>' END,
        |      ' ' ORDER BY i), '') AS inp,
        |    COALESCE(string_agg(
        |      CASE WHEN m THEN
        |        CASE WHEN rstart THEN '<extra_id_' || k || '> ' || tok
        |          ELSE tok END END,
        |      ' ' ORDER BY i), '') AS tgt,
        |    CAST(SUM(CASE WHEN rstart THEN 1 ELSE 0 END) AS INTEGER)
        |      AS n_runs
        |  FROM ks
        |  GROUP BY doc_id)
        |SELECT doc_id, n_runs AS n_special_inp, n_runs AS n_special_tgt,
        |  inp AS inp_decoded, tgt AS tgt_decoded
        |FROM sc
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // The DPO ARTIFACT flagship (late r11): preference pairing +
    // tokenization in one — the (prompt, chosen_ids, rejected_ids)
    // table a DPO trainer actually consumes. Byte-BPE table fits on
    // the raw corpus (lossless, GPT-2 id layout), both pair sides
    // encode to id streams, the pairing is t_dpo_pairs' (margin 200).
    // One SQL oracle replays tokenizer rounds, id mapping, pairing
    // tie-breaks and the final joins.
    Gate("t_dpo_artifact", (s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.operators.Bpe.fit(docs, "text", 6,
        minCount = 1L, byteLevel = true)
      val ids = docs.select(col("doc_id"),
        array_join(graft.operators.Bpe.encodeIdsCol(col("text"), merges)
          .cast("array<string>"), " ").as("ids_str"))
      val cand = docs.select(
        expr("doc_id div 4").as("prompt_id"), col("doc_id"), col("text"),
        ((col("n_chars") * 31 + col("doc_id") * 7) % 1000).as("score_fp"))
      graft.operators.Preference.preferencePairs(cand, "prompt_id",
        "doc_id", "text", "score_fp", minMarginFp = 200L)
        .join(ids.select(col("doc_id").as("chosen_id"),
          col("ids_str").as("chosen_ids")), "chosen_id")
        .join(ids.select(col("doc_id").as("rejected_id"),
          col("ids_str").as("rejected_ids")), "rejected_id")
        .select(col("prompt_id"), col("chosen_id"), col("rejected_id"),
          col("chosen_ids"), col("rejected_ids"), col("margin_fp"),
          col("n_candidates"))
        .orderBy(col("prompt_id"))
    },
      Some(bpeBytesChainSql("text", 6) +
        """,
        |base AS (
        |  SELECT b AS id,
        |    CASE WHEN b = 32 THEN 'Ġ' WHEN b = 10 THEN 'Ċ'
        |      WHEN b = 9 THEN 'ĉ' ELSE chr(CAST(b AS INTEGER)) END AS sym
        |  FROM range(256) AS t(b)
        |  WHERE (b BETWEEN 33 AND 126) OR b IN (32, 10, 9)),
        |mg AS (""".stripMargin +
        (1 to 6).map(k =>
          s"SELECT 255 + $k AS id, l || r AS sym FROM b$k")
          .mkString("\n", "\nUNION ALL\n", "),\n") +
        """vocab AS (
        |  SELECT sym, MIN(id) AS id
        |  FROM (SELECT id, sym FROM base UNION ALL SELECT id, sym FROM mg)
        |  GROUP BY sym),
        |docids AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
        |      AS ids_str
        |  FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
        |  GROUP BY d.doc_id),
        |pcand AS (
        |  SELECT doc_id // 4 AS prompt_id, doc_id, text,
        |    (n_chars * 31 + doc_id * 7) % 1000 AS score_fp
        |  FROM documents),
        |pr1 AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY prompt_id
        |      ORDER BY score_fp DESC, doc_id ASC) AS rc,
        |    ROW_NUMBER() OVER (PARTITION BY prompt_id
        |      ORDER BY score_fp ASC, doc_id DESC) AS rr,
        |    COUNT(*) OVER (PARTITION BY prompt_id) AS n
        |  FROM pcand),
        |pch AS (SELECT prompt_id, doc_id AS chosen_id,
        |          score_fp AS cs, n FROM pr1 WHERE rc = 1),
        |prj AS (SELECT prompt_id, doc_id AS rejected_id,
        |          score_fp AS rs FROM pr1 WHERE rr = 1)
        |SELECT prompt_id, chosen_id, rejected_id,
        |  dc.ids_str AS chosen_ids, dr.ids_str AS rejected_ids,
        |  cs - rs AS margin_fp, n AS n_candidates
        |FROM pch JOIN prj USING (prompt_id)
        |  JOIN docids dc ON dc.doc_id = chosen_id
        |  JOIN docids dr ON dr.doc_id = rejected_id
        |WHERE n >= 2 AND cs - rs >= 200
        |ORDER BY prompt_id ASC NULLS FIRST""".stripMargin)),

    // Hashed-bigram LM surprisal filter (r9, CCNet-shaped): fit a B-row
    // hashed bigram model on the src0/src1 reference slice, score the
    // rest by integer milli-bits-per-bigram, keep the fluent slice.
    // Unlike t_dsir_select (whose oracle replays the token-keyed mode),
    // the salted-md5 bucket hash is engine-portable, so the oracle
    // replays the HASHED scale path itself — model fit, bucket
    // collisions and all.
    Gate("t_lm_surprisal", (s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(col("source").isin("src0", "src1"))
      val raw = docs.filter(!col("source").isin("src0", "src1"))
      val model = graft.operators.Surprisal.fit(ref, "text", 4096, "lm")
      graft.operators.Surprisal
        .score(raw, model, "doc_id", "text", 4096, "lm")
        .withColumn("kept", col("avg1000") <= lit(10200L))
        .orderBy(col("doc_id"))
    },
      Some("WITH " + surprisalCtesSql + "\n" +
        """SELECT doc_id, n_pairs, surprisal_sum, avg1000,
          |  avg1000 <= 10200 AS kept
          |FROM agg ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    Gate("t_select_topk", (s, d) => {
      val scored = t(s, d, "documents").select(
        col("doc_id"), col("source"),
        floor(graft.functions.TextSignals.quality(col("text")) * lit(1e6))
          .as("score_fp"))
      graft.operators.Selection
        .topKPerStratum(scored, "source", "score_fp", "doc_id", 5)
        .select(col("source"), col("rank"), col("doc_id"), col("score_fp"))
        .orderBy(col("source"), col("rank"))
    },
      Some("WITH " + scoredCteSql + "\n" +
        """SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, score_fp
          |FROM (SELECT source, doc_id, score_fp,
          |        ROW_NUMBER() OVER (PARTITION BY source
          |          ORDER BY score_fp DESC, doc_id ASC) AS rank
          |      FROM scored)
          |WHERE rank <= 5
          |ORDER BY source ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin)),

    Gate("t_select_topfrac", (s, d) => {
      val scored = t(s, d, "documents").select(
        col("doc_id"), col("lang"),
        floor(graft.functions.TextSignals.quality(col("text")) * lit(1e6))
          .as("score_fp"))
      graft.operators.Selection
        .topFracPerStratum(scored, "lang", "score_fp", "doc_id", 1, 4)
        .select(col("lang"), col("rank"), col("doc_id"), col("score_fp"))
        .orderBy(col("lang"), col("rank"))
    },
      Some("WITH " + scoredCteSql + "\n" +
        """SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id, score_fp
          |FROM (SELECT lang, doc_id, score_fp,
          |        ROW_NUMBER() OVER (PARTITION BY lang
          |          ORDER BY score_fp DESC, doc_id ASC) AS rank,
          |        COUNT(*) OVER (PARTITION BY lang) AS n
          |      FROM scored)
          |WHERE rank <= (n * 1 + 3) // 4
          |ORDER BY lang ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin)),

    // Corpus drift QA: the 15 tokens rising fastest and the 15 falling
    // fastest between the src0-4 slice and the rest — smoothed
    // relative-frequency ratios, both cuts TakeOrdered.
    Gate("t_corpus_drift", (s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("source")
        .isin("src0", "src1", "src2", "src3", "src4"))
      val b = docs.filter(!col("source")
        .isin("src0", "src1", "src2", "src3", "src4"))
      graft.operators.Drift.topMovers(a, b, "text", k = 15)
        .orderBy(col("direction"), col("rank"))
    },
      Some(driftOracleSql)),

    // Doc-level snapshot diff: v2 of the corpus built in-plan (every
    // 7th doc removed, every 5th survivor's text edited, every 11th
    // doc re-added under a new id) and diffed against v1 — the
    // membership table an ingest review reads before promoting.
    Gate("t_snapshot_diff", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Drift.snapshotDiff(docs, v2, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      Some("""WITH v1 AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fa
        |  FROM documents),
        |v2b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 7 != 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 11 = 0),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fb
        |  FROM v2b)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN fa = fb THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // The r9 composition flagship: seed-classifier filter feeding the
    // fractional stratified selection — keep the corpus docs that look
    // like the positive seed, then the best half of every language by
    // margin. Pins the operator INTERACTION (the selection ranks the
    // classifier's survivors, not the raw corpus).
    Gate("t_curation_v2", (s, d) => {
      val docs = t(s, d, "documents")
      val pos = docs.filter(col("source").isin("src0", "src1"))
      val neg = docs.filter(col("source").isin("src2", "src3"))
      val raw = docs.filter(
        !col("source").isin("src0", "src1", "src2", "src3"))
      val kept = graft.operators.Classifier
        .score(raw,
          graft.operators.Classifier.fit(pos, neg, "text", 4096, "nb"),
          "doc_id", "text", 4096, "nb")
        .filter(col("margin1000") >= 0)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      graft.operators.Selection
        .topFracPerStratum(kept, "lang", "margin1000", "doc_id", 1, 2)
        .select(col("lang"), col("rank"), col("doc_id"), col("margin1000"))
        .orderBy(col("lang"), col("rank"))
    },
      Some("WITH " + classifierCtesSql + "\n" +
        """, kept AS (
          |  SELECT f.doc_id, d.lang, f.margin1000
          |  FROM fin f JOIN documents d USING (doc_id)
          |  WHERE f.margin1000 >= 0),
          |rk AS (
          |  SELECT lang, doc_id, margin1000,
          |    ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY margin1000 DESC, doc_id ASC) AS rank,
          |    COUNT(*) OVER (PARTITION BY lang) AS n
          |  FROM kept)
          |SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id, margin1000
          |FROM rk WHERE rank <= (n * 1 + 1) // 2
          |ORDER BY lang ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin)),

    // CCNet's head/middle/tail diagnostic: the scored corpus cut into
    // perplexity terciles (global NTILE over (avg1000, doc_id) — the
    // range-partitioned Ordinals form, no single-partition window) and
    // crossed with the source mix. The table a curation run reads to
    // decide which slice of which domain to keep.
    Gate("t_surprisal_terciles", (s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(col("source").isin("src0", "src1"))
      val raw = docs.filter(!col("source").isin("src0", "src1"))
      val sc = graft.operators.Surprisal.score(raw,
        graft.operators.Surprisal.fit(ref, "text", 4096, "lm"),
        "doc_id", "text", 4096, "lm")
      graft.operators.Ordinals.withGlobalNtile(sc, "tercile", 3,
          Seq(col("avg1000").asc, col("doc_id").asc))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"), col("tercile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg1000")).as("min_avg1000"),
          max(col("avg1000")).as("max_avg1000"))
        .orderBy(col("source"), col("tercile"))
    },
      Some("WITH " + surprisalCtesSql + "\n" +
        """, t3 AS (
          |  SELECT doc_id, avg1000,
          |    CAST(NTILE(3) OVER (ORDER BY avg1000, doc_id) AS INTEGER)
          |      AS tercile
          |  FROM agg)
          |SELECT d.source, t.tercile, count(*) AS n_docs,
          |  MIN(t.avg1000) AS min_avg1000, MAX(t.avg1000) AS max_avg1000
          |FROM t3 t JOIN documents d USING (doc_id)
          |GROUP BY d.source, t.tercile
          |ORDER BY d.source ASC NULLS FIRST, t.tercile ASC NULLS FIRST""".stripMargin)),

    Gate("t_nb_classify", (s, d) => {
      val docs = t(s, d, "documents")
      val pos = docs.filter(col("source").isin("src0", "src1"))
      val neg = docs.filter(col("source").isin("src2", "src3"))
      val raw = docs.filter(
        !col("source").isin("src0", "src1", "src2", "src3"))
      val model = graft.operators.Classifier.fit(pos, neg, "text", 4096, "nb")
      graft.operators.Classifier
        .score(raw, model, "doc_id", "text", 4096, "nb")
        .withColumn("kept", col("margin1000") >= lit(0L))
        .orderBy(col("doc_id"))
    },
      Some("WITH " + classifierCtesSql + "\n" +
        """SELECT doc_id, n_tokens, margin_sum, margin1000,
          |  margin1000 >= 0 AS kept
          |FROM fin ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // The r10 integration flagship: the full curation chain down to the
    // TRAINING ARTIFACT layout — seed-classifier gate → fractional
    // stratified selection → token-mass rebalance → epoch shuffle →
    // balanced contiguous shard placement. The output is the exact
    // (shard, pos_in_shard, doc) assignment Sinks.writeShards
    // materializes (EpochShardsSpec round-trips the files); every stage
    // ranks/cuts/numbers the PREVIOUS stage's survivors, and the whole
    // chain replays as one SQL pipeline.
    Gate("t_epoch_shards", (s, d) => {
      val docs = t(s, d, "documents")
      val pos = docs.filter(col("source").isin("src0", "src1"))
      val neg = docs.filter(col("source").isin("src2", "src3"))
      val raw = docs.filter(
        !col("source").isin("src0", "src1", "src2", "src3"))
      val kept = graft.operators.Classifier
        .score(raw,
          graft.operators.Classifier.fit(pos, neg, "text", 4096, "nb"),
          "doc_id", "text", 4096, "nb")
        .filter(col("margin1000") >= 0)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val sel = graft.operators.Selection
        .topFracPerStratum(kept, "lang", "margin1000", "doc_id", 3, 4)
      val reb = graft.operators.Sampling.rebalanceByWeight(
        sel, "doc_id", "reb10", "lang", "n_tokens",
        Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.3))
      val shuffled = graft.operators.Sampling
        .shuffleOrder(reb, "doc_id", "ep10")
      graft.operators.Sampling.epochShards(shuffled, "shuffle_pos", 8)
        .select(col("shard"), col("pos_in_shard"), col("shuffle_pos"),
          col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("shard"), col("pos_in_shard"))
    },
      Some("WITH " + classifierCtesSql + "\n" +
        """, kept AS (
          |  SELECT f.doc_id, d.lang, f.n_tokens, f.margin1000
          |  FROM fin f JOIN documents d USING (doc_id)
          |  WHERE f.margin1000 >= 0),
          |sel AS (
          |  SELECT doc_id, lang, n_tokens, margin1000 FROM (
          |    SELECT doc_id, lang, n_tokens, margin1000,
          |      ROW_NUMBER() OVER (PARTITION BY lang
          |        ORDER BY margin1000 DESC, doc_id ASC) AS rank,
          |      COUNT(*) OVER (PARTITION BY lang) AS n
          |    FROM kept)
          |  WHERE rank <= (n * 3 + 3) // 4),
          |cnt AS (
          |  SELECT lang AS st, CAST(SUM(n_tokens) AS BIGINT) AS n
          |  FROM sel GROUP BY lang),
          |tgt(st, t) AS (VALUES ('en', 0.4), ('de', 0.3), ('fr', 0.3)),
          |j AS (SELECT c.st, c.n, t.t FROM cnt c JOIN tgt t USING (st)),
          |cap AS (SELECT MIN(n / t) AS cap FROM j),
          |cut AS (SELECT st,
          |    CAST(FLOOR(LEAST(cap * t / n, 1.0) * 10000 + 0.5)
          |      AS BIGINT) AS cut
          |  FROM j, cap),
          |keptr AS (
          |  SELECT s2.doc_id, s2.lang, s2.n_tokens FROM sel s2
          |  JOIN cut ON cut.st = s2.lang
          |  WHERE CAST('0x' || SUBSTR(md5(CAST(s2.doc_id AS VARCHAR)
          |      || ':reb10'), 1, 8) AS BIGINT) % 10000 < cut.cut),
          |shuf AS (
          |  SELECT doc_id, lang, n_tokens,
          |    CAST(ROW_NUMBER() OVER (ORDER BY
          |      CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
          |        || ':ep10'), 1, 8) AS BIGINT), doc_id) AS BIGINT)
          |      AS shuffle_pos,
          |    COUNT(*) OVER () AS nn
          |  FROM keptr)
          |SELECT ((shuffle_pos - 1) * 8) // nn AS shard,
          |  shuffle_pos
          |    - ((((shuffle_pos - 1) * 8) // nn) * nn + 7) // 8
          |    AS pos_in_shard,
          |  shuffle_pos, doc_id, lang, n_tokens
          |FROM shuf
          |ORDER BY shard ASC NULLS FIRST,
          |  pos_in_shard ASC NULLS FIRST""".stripMargin)),

    // Fractional stratum upsampling — the additive half of mixture
    // building (rebalance can only cut): en repeats 2.5 epochs, de
    // keeps half, zh drops, unlisted strata pass through. The per-row
    // replica count is pure integer arithmetic over the salted hash
    // (base ⌊f⌋ + one more iff bucket < frac·10⁴), replayed in DuckDB
    // as unnest(range(n)).
    Gate("t_upsample", (s, d) =>
      graft.operators.Sampling.upsampleByFactor(
        t(s, d, "documents"), "doc_id", "up10", "lang",
        Map("en" -> 2.5, "de" -> 0.5, "zh" -> 0.0))
        .select(col("doc_id"), col("rep"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"), col("rep")),
      Some(upsampleOracleSql)),

    // The token-budget mixture plan: "train on B units at mix t̂"
    // becomes per-stratum repeat factors B·t_s/m_s in the exact fixed
    // point upsampleByFactor consumes — one aggregate + a broadcast
    // target join, the table a training run reviews before committing
    // to a mix.
    Gate("t_epoch_plan", (s, d) =>
      graft.operators.Sampling.epochPlan(
        t(s, d, "documents"), "lang", "n_chars",
        Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.3), budget = 1000000L)
        .orderBy(col("lang")),
      Some("""WITH cnt AS (
        |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM documents WHERE lang IN ('en', 'de', 'fr')
        |  GROUP BY lang),
        |tgt(st, t) AS (VALUES ('en', 0.5), ('de', 0.2), ('fr', 0.3))
        |SELECT c.lang, c.mass,
        |  CAST(FLOOR(1000000 * t.t / c.mass * 10000 + 0.5) AS BIGINT)
        |    AS factor1e4
        |FROM cnt c JOIN tgt t ON t.st = c.lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin)),

    // The r10 budget-to-artifact flagship: plan the mixture for a
    // 1M-char budget, upsample to the planned factors (replicas keyed
    // doc:rep), epoch-shuffle the replicated corpus and place it into
    // 4 balanced contiguous shards — the complete "train on B tokens
    // at mix t̂" layout, every stage replayed in one SQL pipeline.
    Gate("t_budget_mix", (s, d) => {
      val docs = t(s, d, "documents")
      val plan = graft.operators.Sampling.epochPlan(docs, "lang",
        "n_chars", Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.3),
        budget = 1000000L)
      val fs = graft.operators.Sampling.epochPlanFactors(plan, "lang")
      val up = graft.operators.Sampling.upsampleByFactor(docs, "doc_id",
        "bm10", "lang", fs, default = 0.0)
        .withColumn("rep_id",
          concat_ws(":", col("doc_id"), col("rep")))
      val shuffled = graft.operators.Sampling
        .shuffleOrder(up, "rep_id", "bm10e")
      graft.operators.Sampling.epochShards(shuffled, "shuffle_pos", 4)
        .select(col("shard"), col("pos_in_shard"), col("shuffle_pos"),
          col("doc_id"), col("rep"), col("lang"))
        .orderBy(col("shard"), col("pos_in_shard"))
    },
      Some("""WITH cnt AS (
        |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM documents WHERE lang IN ('en', 'de', 'fr')
        |  GROUP BY lang),
        |tgt(st, t) AS (VALUES ('en', 0.5), ('de', 0.2), ('fr', 0.3)),
        |plan AS (
        |  SELECT c.lang,
        |    CAST(FLOOR(1000000 * t.t / c.mass * 10000 + 0.5) AS BIGINT)
        |      AS f1e4
        |  FROM cnt c JOIN tgt t ON t.st = c.lang),
        |up AS (
        |  SELECT d.doc_id, d.lang,
        |    (p.f1e4 // 10000)
        |    + (CASE WHEN CAST('0x' || SUBSTR(md5(CAST(d.doc_id AS VARCHAR)
        |          || ':bm10'), 1, 8) AS BIGINT) % 10000
        |        < (p.f1e4 % 10000) THEN 1 ELSE 0 END) AS n
        |  FROM documents d JOIN plan p ON p.lang = d.lang),
        |reps AS (
        |  SELECT doc_id, lang,
        |    CAST(unnest(range(n)) AS INTEGER) AS rep
        |  FROM up),
        |shuf AS (
        |  SELECT doc_id, lang, rep,
        |    CAST(ROW_NUMBER() OVER (ORDER BY
        |      CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':'
        |        || CAST(rep AS VARCHAR) || ':bm10e'), 1, 8) AS BIGINT),
        |      CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR))
        |      AS BIGINT) AS shuffle_pos,
        |    COUNT(*) OVER () AS nn
        |  FROM reps)
        |SELECT ((shuffle_pos - 1) * 4) // nn AS shard,
        |  shuffle_pos
        |    - ((((shuffle_pos - 1) * 4) // nn) * nn + 3) // 4
        |    AS pos_in_shard,
        |  shuffle_pos, doc_id, rep, lang
        |FROM shuf
        |ORDER BY shard ASC NULLS FIRST,
        |  pos_in_shard ASC NULLS FIRST""".stripMargin)),

    // Curriculum training order (Bengio '09): epoch positions follow
    // the global quality band (NTILE over the score — low = early)
    // with a salted decorrelated shuffle inside each band, the graded
    // easy→hard progression an annealed run streams. Both passes are
    // range-exchange ordinals; NTILE + ROW_NUMBER replay it exactly.
    Gate("t_curriculum", (s, d) =>
      graft.operators.Sampling.curriculumOrder(
        t(s, d, "documents"), "doc_id", "cu10", "n_chars", 3)
        .select(col("doc_id"), col("band"), col("shuffle_pos"),
          col("n_chars"), col("lang"))
        .orderBy(col("shuffle_pos")),
      Some("""WITH b AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(NTILE(3) OVER (ORDER BY n_chars ASC, doc_id ASC)
        |      AS INTEGER) AS band
        |  FROM documents)
        |SELECT doc_id, band,
        |  CAST(ROW_NUMBER() OVER (ORDER BY band ASC,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':cu10'),
        |      1, 8) AS BIGINT), doc_id) AS BIGINT) AS shuffle_pos,
        |  n_chars, lang
        |FROM b
        |ORDER BY shuffle_pos ASC NULLS FIRST""".stripMargin)),

    // The shard manifest — per-shard row counts, position ranges and
    // char mass over an epoch placement: what a data loader reads
    // before streaming the writeShards artifact, and the placement
    // integrity check (a non-dense pos_in_shard raises in-plan,
    // ShardSinkSpec).
    Gate("t_shard_manifest", (s, d) => {
      val shuffled = graft.operators.Sampling.shuffleOrder(
        t(s, d, "documents"), "doc_id", "mf10")
      val placed = graft.operators.Sampling
        .epochShards(shuffled, "shuffle_pos", 6)
      graft.sinks.Sinks.shardManifest(placed,
        weightCols = Seq("n_chars")).orderBy(col("shard"))
    },
      Some("""WITH shuf AS (
        |  SELECT doc_id, n_chars,
        |    CAST(ROW_NUMBER() OVER (ORDER BY
        |      CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
        |        || ':mf10'), 1, 8) AS BIGINT), doc_id) AS BIGINT)
        |      AS pos,
        |    COUNT(*) OVER () AS nn
        |  FROM documents),
        |placed AS (
        |  SELECT n_chars, ((pos - 1) * 6) // nn AS shard,
        |    pos - ((((pos - 1) * 6) // nn) * nn + 5) // 6
        |      AS pos_in_shard
        |  FROM shuf)
        |SELECT shard, COUNT(*) AS n_rows,
        |  MIN(pos_in_shard) AS first_pos,
        |  MAX(pos_in_shard) AS last_pos,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
        |FROM placed GROUP BY shard
        |ORDER BY shard ASC NULLS FIRST""".stripMargin)),

    // Token-id round trip: encode under the fitted vocabulary, decode
    // the id stream back — the inspection path for shipped token
    // streams (what does the model actually train on). OOV ids decode
    // to the visible <oov> marker so positions stay aligned; an id
    // outside the vocabulary raises (wrong-vocabulary drift).
    Gate("t_vocab_decode", (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = graft.operators.Vocab.fit(docs, "text", 64)
      val enc = graft.operators.Vocab.encode(docs, "doc_id", "text",
        vocab)
      graft.operators.Vocab.decodeNarrow(enc, "token_ids",
        graft.operators.Vocab.vocabMap(vocab))
        .select(col("doc_id"), col("text_decoded"))
        .orderBy(col("doc_id"))
    },
      Some(vocabDecodeOracleSql)),

    // Cluster-cap SOFT dedup — the middle ground between keeping every
    // near-dup and hard dedup (one survivor per cluster): keep the k=2
    // best exemplars of every verified near-dup cluster, preferring
    // the longest text (near-identical docs often differ by
    // truncation). Pure composition: connected components over the
    // verified MinHash pairs → top-k per component stratum; the oracle
    // composes the same two proofs (recursive-CTE closure +
    // ROW_NUMBER cap).
    Gate("t_cluster_cap", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = graft.operators.Dedup.minhashPairs(docs, "text",
        "doc_id", threshold = 0.5, portable = true)
      val withComp = graft.operators.Components.withComponents(
        docs.select(col("doc_id"), col("n_chars")), "doc_id",
        pairs, "id_a", "id_b")
      graft.operators.Selection.topKPerStratum(withComp,
        "component", "n_chars", "doc_id", 2)
        .select(col("doc_id"), col("component"), col("n_chars"),
          col("rank"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH RECURSIVE ${SimilarityGates.minhashCcCompCtesSql},
        |__cap AS (
        |  SELECT c.doc_id, c.component, d.n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c.component
        |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS INTEGER)
        |      AS rank
        |  FROM __comp c JOIN documents d USING (doc_id))
        |SELECT doc_id, component, n_chars, rank FROM __cap
        |WHERE rank <= 2
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))
  )

  /** The t_lm_surprisal oracle CTE chain, ending at
    * `agg(doc_id, n_pairs, surprisal_sum, avg1000)` — the hashed-
    * bigram model fit on the src0/src1 reference slice and the rest of
    * the corpus scored in integer milli-bits per bigram. Shared with
    * the configuration-surface twin `hb_surprisal_cfg` in HbGates. */
  private[queries] lazy val surprisalCtesSql: String =
    surprisalCtes("WHERE source NOT IN ('src0', 'src1')")

  /** [[surprisalCtesSql]] with the scored-corpus predicate as a
    * parameter — the streaming scorer gate scores EVERY document
    * (empty `corpusWhere`), the batch gates exclude the reference
    * slice. */
  private[queries] def surprisalCtes(corpusWhere: String): String =
    raw"""rtok AS (
      |  SELECT string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
      |  FROM documents WHERE source IN ('src0', 'src1')),
      |rpair AS (
      |  SELECT tk[i] AS w1, tk[i + 1] AS w2
      |  FROM rtok, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS t(i)),
      |cp AS (
      |  SELECT CAST('0x' || SUBSTR(md5(w1 || ' ' || w2 || ':lm'), 1, 8) AS BIGINT) % 4096 AS b,
      |    count(*) AS cp FROM rpair GROUP BY 1),
      |cc AS (
      |  SELECT CAST('0x' || SUBSTR(md5(w1 || ':lm'), 1, 8) AS BIGINT) % 4096 AS b,
      |    count(*) AS cc FROM rpair GROUP BY 1),
      |qpair AS (
      |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      |  FROM (SELECT doc_id,
      |          string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
      |        FROM documents $corpusWhere),
      |    unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS t(i)),
      |sc AS (
      |  SELECT doc_id,
      |    GREATEST(0, length(bin(COALESCE(cc.cc, 0) + 4096))
      |              - length(bin(COALESCE(cp.cp, 0) + 1))) AS s
      |  FROM qpair
      |  LEFT JOIN cp ON cp.b =
      |    CAST('0x' || SUBSTR(md5(qpair.w1 || ' ' || qpair.w2 || ':lm'), 1, 8) AS BIGINT) % 4096
      |  LEFT JOIN cc ON cc.b =
      |    CAST('0x' || SUBSTR(md5(qpair.w1 || ':lm'), 1, 8) AS BIGINT) % 4096),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_pairs,
      |    CAST(SUM(s) AS BIGINT) AS surprisal_sum,
      |    (CAST(SUM(s) AS BIGINT) * 1000) // count(*) AS avg1000
      |  FROM sc GROUP BY doc_id)""".stripMargin

  /** The t_nb_classify oracle CTE chain, ending at `fin(doc_id,
    * n_tokens, margin_sum, margin1000)` — the hashed two-class NB model
    * fit on src0/src1 (positive) vs src2/src3 (negative) and the rest
    * of the corpus scored in integer milli-bits of log-likelihood
    * margin per token. Shared with the configuration-surface twin
    * `hb_classifier_cfg` in HbGates. */
  private[queries] lazy val classifierCtesSql: String =
    classifierCtes(
      "WHERE source NOT IN ('src0', 'src1', 'src2', 'src3')")

  /** [[classifierCtesSql]] with the scored-corpus predicate as a
    * parameter (the streaming scorer gate scores every document). */
  /** The t_langid_nb / st_hb_langid shared oracle CTEs: seed trigram
    * buckets, per-(lang, bucket) model, per-doc per-lang bitlen scores
    * and the (score DESC, lang ASC) argmax as `pred`. */
  private[queries] lazy val langIdCtesSql: String =
    raw"""sg AS (
      |  SELECT lang,
      |    CAST('0x' || SUBSTR(md5(substring(t, CAST(i AS INTEGER), 3)
      |      || ':lid'), 1, 8) AS BIGINT) % 4096 AS b
      |  FROM (SELECT lang, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
      |        FROM documents),
      |    unnest(range(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 3),
      |model AS (SELECT lang, b, count(*) AS c FROM sg GROUP BY 1, 2),
      |tot AS (SELECT lang, SUM(c) AS n FROM model GROUP BY 1),
      |qg AS (
      |  SELECT doc_id,
      |    CAST('0x' || SUBSTR(md5(substring(t, CAST(i AS INTEGER), 3)
      |      || ':lid'), 1, 8) AS BIGINT) % 4096 AS b
      |  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
      |        FROM documents),
      |    unnest(range(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 3),
      |ng AS (SELECT doc_id, count(*) AS n_grams FROM qg GROUP BY 1),
      |me AS (
      |  SELECT q.doc_id, mo.lang,
      |    SUM(length(bin(mo.c + 1)) - 1) AS s
      |  FROM qg q JOIN model mo ON mo.b = q.b
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT ng.doc_id, t2.lang,
      |    COALESCE(me.s, 0) + ng.n_grams
      |      - ng.n_grams * length(bin(t2.n + 4096)) AS score
      |  FROM ng CROSS JOIN tot t2
      |  LEFT JOIN me ON me.doc_id = ng.doc_id AND me.lang = t2.lang),
      |pred AS (
      |  SELECT doc_id, lang AS lang_pred,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, lang ASC) AS rn
      |  FROM sc)""".stripMargin

  private[queries] def classifierCtes(corpusWhere: String): String =
    raw"""ptok AS (
      |  SELECT tk[i] AS w
      |  FROM (SELECT string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
      |        FROM documents WHERE source IN ('src0', 'src1')),
      |    unnest(range(1, len(tk) + 1)) AS t(i)
      |  WHERE length(tk[i]) > 0),
      |ntok AS (
      |  SELECT tk[i] AS w
      |  FROM (SELECT string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
      |        FROM documents WHERE source IN ('src2', 'src3')),
      |    unnest(range(1, len(tk) + 1)) AS t(i)
      |  WHERE length(tk[i]) > 0),
      |cpos AS (
      |  SELECT CAST('0x' || SUBSTR(md5(w || ':nb'), 1, 8) AS BIGINT) % 4096 AS b,
      |    count(*) AS cp FROM ptok GROUP BY 1),
      |cneg AS (
      |  SELECT CAST('0x' || SUBSTR(md5(w || ':nb'), 1, 8) AS BIGINT) % 4096 AS b,
      |    count(*) AS cn FROM ntok GROUP BY 1),
      |tot AS (
      |  SELECT (SELECT count(*) FROM ptok) AS np,
      |         (SELECT count(*) FROM ntok) AS nn),
      |qtok AS (
      |  SELECT doc_id, tk[i] AS w
      |  FROM (SELECT doc_id,
      |          string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
      |        FROM documents
      |        $corpusWhere),
      |    unnest(range(1, len(tk) + 1)) AS t(i)
      |  WHERE length(tk[i]) > 0),
      |sc AS (
      |  SELECT doc_id,
      |    length(bin(COALESCE(cpos.cp, 0) + 1))
      |      - length(bin(COALESCE(cneg.cn, 0) + 1)) AS m
      |  FROM qtok
      |  LEFT JOIN cpos ON cpos.b =
      |    CAST('0x' || SUBSTR(md5(qtok.w || ':nb'), 1, 8) AS BIGINT) % 4096
      |  LEFT JOIN cneg ON cneg.b =
      |    CAST('0x' || SUBSTR(md5(qtok.w || ':nb'), 1, 8) AS BIGINT) % 4096),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    CAST(SUM(m) AS BIGINT) AS msum
      |  FROM sc GROUP BY doc_id),
      |fin AS (
      |  SELECT doc_id, n_tokens,
      |    msum + n_tokens * (length(bin(nn + 4096)) - length(bin(np + 4096))) AS margin_sum,
      |    ((msum + n_tokens * (length(bin(nn + 4096)) - length(bin(np + 4096)))) * 1000)
      |      // n_tokens AS margin1000
      |  FROM agg, tot)""".stripMargin

  /** The t_bpe_encode oracle — 8 unrolled merge rounds, then every doc
    * re-joined to its words' final subword streams. Shared with the
    * `.hb` statement twin `hb_bpe` in HbGates. */
  private[queries] lazy val bpeEncodeOracleSql: String =
    "WITH " + bpeCtesSql(8) + ",\n" +
      """enc AS (
        |  SELECT word, string_agg(sym, ' ' ORDER BY pos) AS ws
        |  FROM st8 GROUP BY word),
        |dtok AS (
        |  SELECT doc_id, i AS tpos, tk[i] AS word
        |  FROM (SELECT doc_id,
        |          string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |        FROM documents),
        |    unnest(range(1, len(tk) + 1)) AS t(i)
        |  WHERE length(tk[i]) > 0)
        |SELECT doc_id, string_agg(ws, ' ' ORDER BY tpos) AS bpe
        |FROM dtok JOIN enc USING (word)
        |GROUP BY doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_vocab_decode oracle — decode ∘ encode under the 64-token
    * fitted vocabulary: every in-vocab token survives, OOV becomes the
    * visible `<oov>` marker, positions aligned. Shared with the
    * streaming twin st_hb_decode (encode→decode chained over the live
    * stream through the closed DSL). */
  private[queries] lazy val vocabDecodeOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok,
      |    generate_subscripts(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), 1) AS pos
      |  FROM documents),
      |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
      |vocab AS (
      |  SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS id
      |  FROM cnt ORDER BY n DESC, tok ASC LIMIT 64),
      |dec AS (
      |  SELECT t.doc_id,
      |    string_agg(CASE WHEN v.id IS NULL THEN '<oov>'
      |      ELSE t.tok END, ' ' ORDER BY t.pos) AS text_decoded
      |  FROM tok t LEFT JOIN vocab v USING (tok)
      |  GROUP BY t.doc_id)
      |SELECT d.doc_id, dec.text_decoded
      |FROM documents d LEFT JOIN dec USING (doc_id)
      |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin

  /** The t_upsample oracle — the quantized replica rule (base ⌊f⌋ +
    * one more iff salted bucket < frac·10⁴) replayed as
    * unnest(range(n)); shared by hb_upsample (same salt through the
    * statement surface) and the streaming twin st_hb_upsample (the
    * stateless narrow map runs identically per micro-batch). */
  private[queries] lazy val upsampleOracleSql: String =
    """WITH f AS (
      |  SELECT doc_id, lang, n_chars,
      |    (CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 0
      |       WHEN 'zh' THEN 0 ELSE 1 END)
      |    + (CASE WHEN CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
      |          || ':up10'), 1, 8) AS BIGINT) % 10000
      |        < (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 5000
      |           WHEN 'zh' THEN 0 ELSE 0 END)
      |      THEN 1 ELSE 0 END) AS n
      |  FROM documents)
      |SELECT doc_id, CAST(unnest(range(n)) AS INTEGER) AS rep,
      |  lang, n_chars
      |FROM f
      |ORDER BY doc_id ASC NULLS FIRST, rep ASC NULLS FIRST"""
      .stripMargin

  /** The t_bpe_encode_big fixed merge table: the full char chain of
    * every word in a fixed list — (w₀,w₁), (w₀w₁,w₂), …, (word,</w>) —
    * first occurrence wins, ranks in construction order. Deterministic,
    * data-independent, ≥256 entries (a require pins it), with deep
    * per-word cascades and cross-word shared-prefix rank interactions —
    * the access pattern a trained 32k table produces, at a size SQL can
    * still oracle via the segmentation invariant. */
  private[queries] lazy val bigMergeTable: Seq[graft.operators.Bpe.Merge] = {
    val words = Seq(
      // the corpus vocabulary (documents.parquet) — these chains FIRE
      "join", "hash", "row", "batch", "scan", "customer", "column",
      "filter", "small", "merge", "slow", "order", "vector", "line",
      "data", "table", "agg", "value", "key", "stream", "window",
      "spark", "a", "group", "part", "big", "sort", "query", "fast",
      "the",
      // padding words sharing prefixes/suffixes with the above, to
      // push past 256 merges and exercise chain collisions
      "lineitem", "supplier", "partition", "shuffle", "broadcast",
      "exchange", "aggregate", "predicate", "pushdown", "codegen",
      "parquet", "dataset", "dataframe", "catalyst", "tungsten",
      "executor", "driver", "cluster", "storage", "memory", "compute",
      "schema", "string", "double", "bigint", "decimal", "boolean",
      "sample", "bucket", "index", "range", "nested", "struct",
      "mapping", "reduce", "combine", "payload", "footer", "segment",
      "logical", "physical", "planner", "metrics", "session", "context",
      "barrier", "skewed", "salted", "sorted", "joined", "grouped")
    val seen = scala.collection.mutable.LinkedHashSet[(String, String)]()
    words.foreach { w =>
      var acc = w.substring(0, 1)
      (1 until w.length).foreach { i =>
        val c = w.substring(i, i + 1)
        seen += ((acc, c))
        acc += c
      }
      seen += ((acc, graft.operators.Bpe.EndOfWord))
    }
    val merges = seen.toSeq.zipWithIndex.map { case ((l, r), i) =>
      graft.operators.Bpe.Merge(i + 1, l, r)
    }
    require(merges.size >= 256,
      s"big merge table must be >= 256 entries, got ${merges.size}")
    merges
  }

  /** The BPE oracle CTE chain: st0 = every distinct corpus word as its
    * (pos, sym) character long-form plus the `</w>` marker; each round
    * k appends CTEs that pick the best pair under (count DESC, left
    * ASC, right ASC) and rewrite the vocabulary with the merge applied
    * greedily left-to-right — the run-parity rule (merge at even
    * offsets within each maximal run of consecutive matches, islands
    * via pos − cumulative-candidate-count) replayed with window
    * functions. Ends with `st<n>` (final vocabulary state) and
    * `b1..bn` (the chosen merges). */
  /** The t_bpe_bytes oracle — the byte-level tokenizer replayed end to
    * end: the mixed-case/multi-space fixture, the RE2 form of the
    * GPT-2-style pretoken cut
    * ([[graft.functions.BpeEncodeExpr.pretokenPattern]] — Java and RE2
    * read it identically, BpeSpec pins scanner ≡ Pattern), the
    * byte-alphabet spelling (the fixture is pure ASCII, so spelling is
    * identity except the remapped whitespace ' '→Ġ, \n→Ċ, \t→ĉ), six
    * unrolled training rounds over the PRETOKEN frame (no `</w>` —
    * the pretoken boundary terminates), per-doc subword streams, and
    * `decoded` = the fixture itself: losslessness as a hash check. */
  /** The shared mixed-case/multi-space fixture expression (SQL side —
    * the Spark side builds the identical expression in the gates). */
  // single-line ON PURPOSE: this fragment interpolates into a
  // stripMargin'd template, where a continuation line starting with
  // `||` would lose a pipe to margin stripping
  private lazy val bpeBytesFixtureSql: String =
    "'The ' || upper(substr(text, 1, 3)) || substr(text, 4) || '  #' || " +
      "CAST(doc_id % 100 AS VARCHAR) || ', End.' || chr(10) || chr(9) || " +
      "'tail  42 '"

  /** The byte-level chain through st<n>: fixture → RE2 pretokens →
    * byte-alphabet spelling (the fixture is pure ASCII, so spelling is
    * identity except the remapped whitespace ' '→Ġ, \n→Ċ, \t→ĉ) →
    * distinct-pretoken frame (no `</w>`) → n unrolled training rounds
    * (the same generic round CTEs as t_bpe_train). */
  private[queries] def bpeBytesChainSql(fxExpr: String, n: Int,
      from: String = "documents", lead: String = "WITH "): String = {
    val pat = """ ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+"""
    s"""${lead}fx AS (
       |  SELECT doc_id, $fxExpr AS fx
       |  FROM $from),
       |ptk AS (SELECT doc_id, regexp_extract_all(fx, '$pat') AS pt FROM fx),
       |dtok AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS tpos,
       |    replace(replace(replace(pt[i], ' ', 'Ġ'), chr(10), 'Ċ'), chr(9), 'ĉ') AS word
       |  FROM ptk, unnest(range(1, len(pt) + 1)) AS t(i)
       |  WHERE length(pt[i]) > 0),
       |w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM dtok GROUP BY word),
       |st0 AS (
       |  SELECT word, freq, CAST(i AS BIGINT) AS pos, substr(word, i, 1) AS sym
       |  FROM w0, unnest(range(1, length(word) + 1)) AS t(i)),
       |""".stripMargin + bpeStepsSql(n).mkString(",\n")
  }

  private[queries] lazy val bpeBytesOracleSql: String =
    bpeBytesChainSql(bpeBytesFixtureSql, 6) +
      """,
      |enc AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS ws
      |  FROM st6 GROUP BY word),
      |docenc AS (
      |  SELECT d.doc_id, string_agg(e.ws, ' ' ORDER BY d.tpos) AS bpe
      |  FROM dtok d JOIN enc e USING (word) GROUP BY d.doc_id)
      |SELECT f.doc_id, de.bpe, f.fx AS decoded
      |FROM fx f JOIN docenc de USING (doc_id)
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The hb_bpe_bytes oracle — the byte chain over the RAW text (the
    * statement surface trains on the frame's column directly; the
    * corpus is lowercase single-spaced, so the cut is words + ` word`
    * space-attached forms), plus the lossless `decode bytes` column. */
  private[queries] lazy val hbBpeBytesOracleSql: String =
    bpeBytesChainSql("text", 6) +
      """,
      |enc AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS ws
      |  FROM st6 GROUP BY word),
      |docenc AS (
      |  SELECT d.doc_id, string_agg(e.ws, ' ' ORDER BY d.tpos) AS bpe
      |  FROM dtok d JOIN enc e USING (word) GROUP BY d.doc_id)
      |SELECT f.doc_id, de.bpe, f.fx AS text_decoded
      |FROM fx f JOIN docenc de USING (doc_id)
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The hb_bpe_ids oracle — the raw-text byte chain, final symbols
    * mapped to GPT-2-layout ids (the t_bpe_ids mapping over the
    * `bpe ids` statement's training column). */
  private[queries] lazy val hbBpeIdsOracleSql: String =
    bpeBytesChainSql("text", 6) +
      """,
      |base AS (
      |  SELECT b AS id,
      |    CASE WHEN b = 32 THEN 'Ġ' WHEN b = 10 THEN 'Ċ'
      |      WHEN b = 9 THEN 'ĉ' ELSE chr(CAST(b AS INTEGER)) END AS sym
      |  FROM range(256) AS t(b)
      |  WHERE (b BETWEEN 33 AND 126) OR b IN (32, 10, 9)),
      |mg AS (""".stripMargin +
      (1 to 6).map(k =>
        s"SELECT 255 + $k AS id, l || r AS sym FROM b$k")
        .mkString("\n", "\nUNION ALL\n", "),\n") +
      """vocab AS (
      |  SELECT sym, MIN(id) AS id
      |  FROM (SELECT id, sym FROM base UNION ALL SELECT id, sym FROM mg)
      |  GROUP BY sym)
      |SELECT d.doc_id,
      |  string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
      |    AS ids_str,
      |  CAST(COUNT(*) AS BIGINT) AS n_ids
      |FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
      |GROUP BY d.doc_id
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The hb_ids_roundtrip oracle — the raw-text ids chain plus the
    * lossless decode identity (text_decoded ≡ the raw text). */
  private[queries] lazy val hbIdsRoundtripOracleSql: String =
    bpeBytesChainSql("text", 6) +
      """,
      |base AS (
      |  SELECT b AS id,
      |    CASE WHEN b = 32 THEN 'Ġ' WHEN b = 10 THEN 'Ċ'
      |      WHEN b = 9 THEN 'ĉ' ELSE chr(CAST(b AS INTEGER)) END AS sym
      |  FROM range(256) AS t(b)
      |  WHERE (b BETWEEN 33 AND 126) OR b IN (32, 10, 9)),
      |mg AS (""".stripMargin +
      (1 to 6).map(k =>
        s"SELECT 255 + $k AS id, l || r AS sym FROM b$k")
        .mkString("\n", "\nUNION ALL\n", "),\n") +
      """vocab AS (
      |  SELECT sym, MIN(id) AS id
      |  FROM (SELECT id, sym FROM base UNION ALL SELECT id, sym FROM mg)
      |  GROUP BY sym),
      |docids AS (
      |  SELECT d.doc_id,
      |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
      |      AS ids_str,
      |    CAST(COUNT(*) AS BIGINT) AS n_ids
      |  FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
      |  GROUP BY d.doc_id)
      |SELECT f.doc_id, di.ids_str, di.n_ids, f.fx AS text_decoded
      |FROM fx f JOIN docids di USING (doc_id)
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The hb_substring_dedup oracle — the d_substring_dedup coverage
    * and reconstruction chain, scrub columns only. */
  private[queries] lazy val hbSubstringDedupOracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
      |      x -> x <> '') AS tk
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS off,
      |    array_to_string(tk[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS gram
      |  FROM tk, unnest(range(1, len(tk) - 8 + 2)) AS t(i)),
      |dupg AS (SELECT gram FROM win GROUP BY gram HAVING COUNT(*) >= 2),
      |hit AS (SELECT w.doc_id, w.off FROM win w JOIN dupg USING (gram)),
      |cov AS (
      |  SELECT DISTINCT h.doc_id, CAST(p AS BIGINT) AS pos
      |  FROM hit h, unnest(range(h.off, h.off + 8)) AS t(p)),
      |tokpos AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[CAST(i AS INTEGER)] AS tok
      |  FROM tk, unnest(range(1, len(tk) + 1)) AS t(i))
      |SELECT tp.doc_id,
      |  COALESCE(string_agg(tp.tok, ' ' ORDER BY tp.pos)
      |    FILTER (WHERE c.pos IS NULL), '') AS scrubbed,
      |  CAST(COUNT(*) FILTER (WHERE c.pos IS NOT NULL) AS BIGINT)
      |    AS n_removed
      |FROM tokpos tp LEFT JOIN cov c
      |  ON c.doc_id = tp.doc_id AND c.pos = tp.pos
      |GROUP BY tp.doc_id
      |ORDER BY tp.doc_id ASC NULLS FIRST""".stripMargin

  /** The st_hb_bpe_bytes oracle — the raw-text byte chain, encode
    * column only (the stream side emits doc_id + bpe). */
  private[queries] lazy val bpeBytesStreamOracleSql: String =
    bpeBytesChainSql("text", 6) +
      """,
      |enc AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS ws
      |  FROM st6 GROUP BY word)
      |SELECT d.doc_id, string_agg(e.ws, ' ' ORDER BY d.tpos) AS bpe
      |FROM dtok d JOIN enc e USING (word)
      |GROUP BY d.doc_id
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_bpe_ids oracle — the same 6-round byte chain, then every
    * final symbol mapped to its GPT-2-layout id: base vocab = byte
    * value per alphabet char (the fixture only produces printable
    * ASCII + the three remapped whitespace chars, so the base CTE
    * enumerates exactly those), merge k's merged string = 255+k with
    * first-occurrence-wins on duplicates (MIN over ids — base and
    * merged can't collide: merged strings are ≥2 chars). */
  private[queries] lazy val bpeIdsOracleSql: String =
    bpeBytesChainSql(bpeBytesFixtureSql, 6) +
      """,
      |base AS (
      |  SELECT b AS id,
      |    CASE WHEN b = 32 THEN 'Ġ' WHEN b = 10 THEN 'Ċ'
      |      WHEN b = 9 THEN 'ĉ' ELSE chr(CAST(b AS INTEGER)) END AS sym
      |  FROM range(256) AS t(b)
      |  WHERE (b BETWEEN 33 AND 126) OR b IN (32, 10, 9)),
      |mg AS (""".stripMargin +
      (1 to 6).map(k =>
        s"SELECT 255 + $k AS id, l || r AS sym FROM b$k")
        .mkString("\n", "\nUNION ALL\n", "),\n") +
      """vocab AS (
      |  SELECT sym, MIN(id) AS id
      |  FROM (SELECT id, sym FROM base UNION ALL SELECT id, sym FROM mg)
      |  GROUP BY sym),
      |docids AS (
      |  SELECT d.doc_id,
      |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
      |      AS ids_str,
      |    COUNT(*) AS n_ids
      |  FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
      |  GROUP BY d.doc_id)
      |SELECT f.doc_id, di.ids_str, CAST(di.n_ids AS INTEGER) AS n_ids,
      |  f.fx AS decoded
      |FROM fx f JOIN docids di USING (doc_id)
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_bpe_specials / t_bpe_specials_export_rt oracle — the
    * specials-aware SFT rendering replayed end to end: the
    * prompt/response halving (the t_sft_template fixture), the SEGMENT
    * corpus (each doc contributes its two between-tag segments
    * ' prompt ' and ' response' as separate rows under synthetic ids
    * doc·10+1 / doc·10+2 — exactly what the specials-aware fit
    * trains on), six byte-chain rounds over it, the GPT-2 id mapping,
    * and the per-document assembly `[262] seg1 [263] seg2` (262/263 =
    * 256+6+k, the reserved ids above the 6-merge vocabulary) with
    * `loss_start = 2 + |seg1|` and the lossless `decoded` identity. */
  private[queries] lazy val bpeSpecialsOracleSql: String =
    "WITH " + sftSpecialsCtes +
      """,
      |segids AS (
      |  SELECT d.doc_id AS syn_id,
      |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
      |      AS ids,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
      |  GROUP BY d.doc_id)
      |SELECT p.doc_id,
      |  '262 ' || s1.ids || ' 263 ' || s2.ids AS ids_str,
      |  CAST(2 + s1.n + s2.n AS INTEGER) AS n_ids,
      |  CAST(2 AS INTEGER) AS n_special,
      |  CAST(2 + s1.n AS INTEGER) AS loss_start,
      |  '<|user|> ' || p.prompt || ' <|assistant|> ' || p.response
      |    AS decoded
      |FROM pairs p
      |JOIN segids s1 ON s1.syn_id = p.doc_id * 10 + 1
      |JOIN segids s2 ON s2.syn_id = p.doc_id * 10 + 2
      |ORDER BY p.doc_id ASC NULLS FIRST""".stripMargin

  /** The shared specials-aware SFT chain (no leading WITH): halved
    * pairs, the two-segment corpus under synthetic ids, six byte
    * rounds over it, and the GPT-2 id mapping — through `vocab`. */
  private[queries] lazy val sftSpecialsCtes: String = {
    val lead =
      """tk0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |    array_to_string(tk[1:CAST((len(tk) + 1) // 2 AS INTEGER)], ' ')
        |      AS prompt,
        |    array_to_string(tk[CAST((len(tk) + 1) // 2 + 1 AS INTEGER):len(tk)], ' ')
        |      AS response
        |  FROM tk0
        |  WHERE length(array_to_string(tk[CAST((len(tk) + 1) // 2 + 1 AS INTEGER):len(tk)], ' ')) > 0),
        |segs AS (
        |  SELECT doc_id * 10 + 1 AS doc_id, ' ' || prompt || ' ' AS seg
        |  FROM pairs
        |  UNION ALL
        |  SELECT doc_id * 10 + 2, ' ' || response FROM pairs),
        |""".stripMargin
    bpeBytesChainSql("seg", 6, from = "segs", lead = lead) +
      """,
      |base AS (
      |  SELECT b AS id,
      |    CASE WHEN b = 32 THEN 'Ġ' WHEN b = 10 THEN 'Ċ'
      |      WHEN b = 9 THEN 'ĉ' ELSE chr(CAST(b AS INTEGER)) END AS sym
      |  FROM range(256) AS t(b)
      |  WHERE (b BETWEEN 33 AND 126) OR b IN (32, 10, 9)),
      |mg AS (""".stripMargin +
      (1 to 6).map(k =>
        s"SELECT 255 + $k AS id, l || r AS sym FROM b$k")
        .mkString("\n", "\nUNION ALL\n", "),\n") +
      """vocab AS (
      |  SELECT sym, MIN(id) AS id
      |  FROM (SELECT id, sym FROM base UNION ALL SELECT id, sym FROM mg)
      |  GROUP BY sym)""".stripMargin
  }

  /** The st_hb_sft oracle — the specials chain's per-document streams
    * and boundary, without the packing stage (the stream side emits
    * per-row trainer inputs). */
  private[queries] lazy val sftStreamOracleSql: String =
    "WITH " + sftSpecialsCtes +
      """,
      |segids AS (
      |  SELECT d.doc_id AS syn_id,
      |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
      |      AS ids,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
      |  GROUP BY d.doc_id)
      |SELECT p.doc_id,
      |  '262 ' || s1.ids || ' 263 ' || s2.ids AS ids_str,
      |  CAST(2 + s1.n + s2.n AS BIGINT) AS n_ids,
      |  CAST(2 + s1.n AS INTEGER) AS loss_start
      |FROM pairs p
      |JOIN segids s1 ON s1.syn_id = p.doc_id * 10 + 1
      |JOIN segids s2 ON s2.syn_id = p.doc_id * 10 + 2
      |ORDER BY p.doc_id ASC NULLS FIRST""".stripMargin

  /** The hb_sft_chat oracle — the whole DSL chat pipeline replayed:
    * the specials chain (pairs → segment corpus → six rounds → ids),
    * per-document `[262] seg1 [263] seg2` streams with the exact
    * boundary, the best-fit-decreasing bin recursion (budget 256, salt
    * `pack` over doc_id — the frame key), and per-bin concatenation
    * with `loss_bounds` = bin_offset + loss_start per document. */
  private[queries] lazy val hbSftChatOracleSql: String =
    "WITH RECURSIVE " + sftSpecialsCtes +
      """,
      |segids AS (
      |  SELECT d.doc_id AS syn_id,
      |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
      |      AS ids,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
      |  GROUP BY d.doc_id),
      |docids AS MATERIALIZED (
      |  SELECT p.doc_id,
      |    '262 ' || s1.ids || ' 263 ' || s2.ids AS ids_str,
      |    CAST(2 + s1.n + s2.n AS BIGINT) AS n,
      |    CAST(2 + s1.n AS BIGINT) AS ls
      |  FROM pairs p
      |  JOIN segids s1 ON s1.syn_id = p.doc_id * 10 + 1
      |  JOIN segids s2 ON s2.syn_id = p.doc_id * 10 + 2),
      |dd AS MATERIALIZED (
      |  SELECT doc_id, ids_str, n, ls,
      |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
      |      AS BIGINT) % 4 AS shard,
      |    ROW_NUMBER() OVER (PARTITION BY
      |      CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)
      |        AS BIGINT) % 4
      |      ORDER BY n DESC, doc_id) AS rn
      |  FROM docids),
      |fd AS (
      |  SELECT shard, CAST(0 AS BIGINT) AS rn,
      |    CAST([] AS BIGINT[]) AS rems,
      |    CAST(NULL AS BIGINT) AS abin, CAST(NULL AS BIGINT) AS aoff
      |  FROM (SELECT DISTINCT shard FROM dd)
      |  UNION ALL
      |  SELECT dd.shard, fd.rn + 1,
      |    CASE WHEN list_min(list_filter(fd.rems, r -> r >= dd.n)) IS NULL
      |      THEN list_append(fd.rems, 1024 - dd.n)
      |      ELSE fd.rems[:list_position(fd.rems, list_min(
      |          list_filter(fd.rems, r -> r >= dd.n))) - 1]
      |        || [list_min(list_filter(fd.rems, r -> r >= dd.n)) - dd.n]
      |        || fd.rems[list_position(fd.rems, list_min(
      |          list_filter(fd.rems, r -> r >= dd.n))) + 1:]
      |    END,
      |    CASE WHEN list_min(list_filter(fd.rems, r -> r >= dd.n)) IS NULL
      |      THEN CAST(len(fd.rems) AS BIGINT)
      |      ELSE CAST(list_position(fd.rems, list_min(
      |        list_filter(fd.rems, r -> r >= dd.n))) - 1 AS BIGINT)
      |    END,
      |    CASE WHEN list_min(list_filter(fd.rems, r -> r >= dd.n)) IS NULL
      |      THEN CAST(0 AS BIGINT)
      |      ELSE 1024 - list_min(list_filter(fd.rems, r -> r >= dd.n))
      |    END
      |  FROM fd JOIN dd ON dd.shard = fd.shard AND dd.rn = fd.rn + 1),
      |seqs AS (
      |  SELECT dd.shard, fd.abin AS bin, COUNT(*) AS n_docs,
      |    CAST(SUM(dd.n) AS INTEGER) AS n_tokens,
      |    string_agg(dd.ids_str, ' ' ORDER BY fd.aoff) AS raw,
      |    string_agg(CAST(fd.aoff AS VARCHAR), ' ' ORDER BY fd.aoff)
      |      AS doc_starts,
      |    string_agg(CAST(fd.aoff + dd.ls AS VARCHAR), ' ' ORDER BY fd.aoff)
      |      AS loss_bounds
      |  FROM dd JOIN fd ON fd.shard = dd.shard AND fd.rn = dd.rn
      |  GROUP BY dd.shard, fd.abin)
      |SELECT shard, bin, n_docs, n_tokens,
      |  CASE WHEN n_tokens = 1024 THEN raw
      |    ELSE raw || repeat(' 0', 1024 - n_tokens) END AS input_ids,
      |  doc_starts, loss_bounds,
      |  array_to_string(list_transform(range(0, 1024), p ->
      |    CASE WHEN p >= n_tokens THEN -100
      |      WHEN len(list_filter(
      |          range(1, len(string_split(doc_starts, ' ')) + 1),
      |          j -> p >= CAST(string_split(doc_starts, ' ')[CAST(j AS INTEGER)] AS BIGINT)
      |            AND p < CAST(string_split(loss_bounds, ' ')[CAST(j AS INTEGER)] AS BIGINT))) > 0
      |        THEN -100
      |      ELSE CAST(string_split(raw, ' ')[CAST(p + 1 AS INTEGER)] AS INTEGER)
      |    END), ' ') AS labels
      |FROM seqs
      |ORDER BY shard ASC NULLS FIRST, bin ASC NULLS FIRST""".stripMargin

  /** The st_hb_fertility oracle — the raw-text byte chain (as
    * hb_bpe_ids), then the per-document fertility/compression
    * arithmetic. */
  private[queries] lazy val fertilityStreamOracleSql: String =
    bpeBytesChainSql("text", 6) +
      """,
      |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS np
      |  FROM st6 GROUP BY word),
      |perdoc AS (
      |  SELECT d.doc_id, CAST(SUM(w.np) AS BIGINT) AS n_ids
      |  FROM dtok d JOIN wc w USING (word) GROUP BY d.doc_id)
      |SELECT doc.doc_id,
      |  CAST(len(regexp_extract_all(doc.text, '\S+')) AS BIGINT) AS words,
      |  CAST(length(doc.text) AS BIGINT) AS chars,
      |  p.n_ids,
      |  CASE WHEN len(regexp_extract_all(doc.text, '\S+')) > 0
      |    THEN p.n_ids * 1000 // len(regexp_extract_all(doc.text, '\S+'))
      |  END AS fertility_permille,
      |  CASE WHEN p.n_ids > 0
      |    THEN CAST(length(doc.text) AS BIGINT) * 1000 // p.n_ids
      |  END AS compression_permille
      |FROM documents doc JOIN perdoc p USING (doc_id)
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The hb_fim_ids oracle — the whole DSL fim→ids pipeline: the fim
    * cut chain, the SEGMENT corpus (sentinels excluded — per applied
    * doc the three between-sentinel segments under synthetic ids
    * doc·10+1..3, per pass-through doc the full token stream at
    * doc·10+4), six byte rounds over it, the GPT-2 id mapping, and the
    * per-document reassembly with reserved ids 262/263/264 spliced at
    * the sentinel positions, plus the lossless decode identity. */
  private[queries] lazy val hbFimIdsOracleSql: String = {
    val lead =
      s"""tok AS (
         |  SELECT doc_id,
         |    list_filter(string_split(lower($normSql), ' '),
         |      x -> x <> '') AS tk
         |  FROM documents),
         |cut AS (
         |  SELECT doc_id, tk, CAST(len(tk) AS INTEGER) AS n,
         |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim'), 1, 8)
         |      AS BIGINT) % 10000 AS bk,
         |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim:a'), 1, 8)
         |      AS BIGINT) % (len(tk) + 1) AS ca,
         |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim:b'), 1, 8)
         |      AS BIGINT) % (len(tk) + 1) AS cb
         |  FROM tok),
         |segsrc AS (
         |  SELECT doc_id, tk, n,
         |    CAST(least(ca, cb) AS INTEGER) AS lo,
         |    CAST(greatest(ca, cb) AS INTEGER) AS hi,
         |    (bk < 9000) AS app
         |  FROM cut),
         |segs AS (
         |  SELECT doc_id * 10 + 1 AS doc_id,
         |    CASE WHEN lo = 0 THEN ' '
         |      ELSE ' ' || array_to_string(tk[1:lo], ' ') || ' ' END AS seg
         |  FROM segsrc WHERE app
         |  UNION ALL
         |  SELECT doc_id * 10 + 2,
         |    CASE WHEN hi = n THEN ' '
         |      ELSE ' ' || array_to_string(tk[hi+1:n], ' ') || ' ' END
         |  FROM segsrc WHERE app
         |  UNION ALL
         |  SELECT doc_id * 10 + 3, ' ' || array_to_string(tk[lo+1:hi], ' ')
         |  FROM segsrc WHERE app AND hi > lo
         |  UNION ALL
         |  SELECT doc_id * 10 + 4, array_to_string(tk, ' ')
         |  FROM segsrc WHERE (NOT app) AND n >= 1),
         |""".stripMargin
    "WITH " + bpeBytesChainSql("seg", 6, from = "segs", lead = lead) +
      """,
      |base AS (
      |  SELECT b AS id,
      |    CASE WHEN b = 32 THEN 'Ġ' WHEN b = 10 THEN 'Ċ'
      |      WHEN b = 9 THEN 'ĉ' ELSE chr(CAST(b AS INTEGER)) END AS sym
      |  FROM range(256) AS t(b)
      |  WHERE (b BETWEEN 33 AND 126) OR b IN (32, 10, 9)),
      |mg AS (""".stripMargin +
      (1 to 6).map(k =>
        s"SELECT 255 + $k AS id, l || r AS sym FROM b$k")
        .mkString("\n", "\nUNION ALL\n", "),\n") +
      """vocab AS (
      |  SELECT sym, MIN(id) AS id
      |  FROM (SELECT id, sym FROM base UNION ALL SELECT id, sym FROM mg)
      |  GROUP BY sym),
      |segids AS (
      |  SELECT d.doc_id AS syn_id,
      |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
      |      AS ids,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
      |  GROUP BY d.doc_id)
      |SELECT p.doc_id,
      |  CASE WHEN p.app THEN
      |      '262 ' || s1.ids || ' 263 ' || s2.ids || ' 264'
      |        || COALESCE(' ' || s3.ids, '')
      |    ELSE s4.ids END AS ids_str,
      |  CAST(CASE WHEN p.app
      |      THEN 3 + s1.n + s2.n + COALESCE(s3.n, 0)
      |    ELSE s4.n END AS BIGINT) AS n_ids,
      |  CAST(CASE WHEN p.app THEN 3 ELSE 0 END AS INTEGER) AS n_special,
      |  CASE WHEN p.app THEN array_to_string(
      |      ['<PRE>'] || p.tk[1:p.lo] ||
      |      ['<SUF>'] || p.tk[p.hi+1:p.n] ||
      |      ['<MID>'] || p.tk[p.lo+1:p.hi], ' ')
      |    ELSE array_to_string(p.tk, ' ') END AS decoded
      |FROM segsrc p
      |LEFT JOIN segids s1 ON s1.syn_id = p.doc_id * 10 + 1
      |LEFT JOIN segids s2 ON s2.syn_id = p.doc_id * 10 + 2
      |LEFT JOIN segids s3 ON s3.syn_id = p.doc_id * 10 + 3
      |LEFT JOIN segids s4 ON s4.syn_id = p.doc_id * 10 + 4
      |ORDER BY p.doc_id ASC NULLS FIRST""".stripMargin
  }

  /** The t_fim_specials oracle — the fim chain (as fimOracleSql) with
    * the sentinel-atomicity count (exactly 3 reserved ids when the
    * transform applied) and the lossless decode identity. */
  private[queries] lazy val fimSpecialsOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower($normSql), ' '),
       |      x -> x <> '') AS tk
       |  FROM documents),
       |cut AS (
       |  SELECT doc_id, tk, CAST(len(tk) AS INTEGER) AS n,
       |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim'), 1, 8)
       |      AS BIGINT) % 10000 AS bk,
       |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim:a'), 1, 8)
       |      AS BIGINT) % (len(tk) + 1) AS ca,
       |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim:b'), 1, 8)
       |      AS BIGINT) % (len(tk) + 1) AS cb
       |  FROM tok),
       |pc AS (
       |  SELECT doc_id, tk, n, bk,
       |    CAST(least(ca, cb) AS INTEGER) AS lo,
       |    CAST(greatest(ca, cb) AS INTEGER) AS hi
       |  FROM cut)
       |SELECT doc_id,
       |  (bk < 9000) AS fim_applied,
       |  CAST(CASE WHEN bk < 9000 THEN 3 ELSE 0 END AS INTEGER)
       |    AS n_special,
       |  CASE WHEN bk < 9000 THEN array_to_string(
       |      ['<PRE>'] || tk[1:lo] ||
       |      ['<SUF>'] || tk[hi+1:n] ||
       |      ['<MID>'] || tk[lo+1:hi], ' ')
       |    ELSE array_to_string(tk, ' ') END AS decoded
       |FROM pc
       |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_sft_artifact oracle — the whole artifact path in one SQL
    * pipeline: the byte-chain rounds and GPT-2 id mapping (as
    * t_bpe_ids), then the BFD placement recursion (as hb_pack_bins,
    * over id COUNTS), then per-(shard, bin) concatenation in placement
    * order and right-padding to the budget. The recursion INPUT CTEs
    * carry MATERIALIZED hints — without them DuckDB re-inlines the
    * whole tokenizer chain into every recursion step (measured
    * minutes vs 5.7 s). */
  private[queries] lazy val sftArtifactOracleSql: String =
    bpeBytesChainSql(bpeBytesFixtureSql, 6)
      .replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
      |base AS (
      |  SELECT b AS id,
      |    CASE WHEN b = 32 THEN 'Ġ' WHEN b = 10 THEN 'Ċ'
      |      WHEN b = 9 THEN 'ĉ' ELSE chr(CAST(b AS INTEGER)) END AS sym
      |  FROM range(256) AS t(b)
      |  WHERE (b BETWEEN 33 AND 126) OR b IN (32, 10, 9)),
      |mg AS (""".stripMargin +
      (1 to 6).map(k =>
        s"SELECT 255 + $k AS id, l || r AS sym FROM b$k")
        .mkString("\n", "\nUNION ALL\n", "),\n") +
      """vocab AS (
      |  SELECT sym, MIN(id) AS id
      |  FROM (SELECT id, sym FROM base UNION ALL SELECT id, sym FROM mg)
      |  GROUP BY sym),
      |docids AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.tpos, w.pos)
      |      AS ids_str,
      |    CAST(COUNT(*) AS BIGINT) AS n_ids
      |  FROM dtok d JOIN st6 w USING (word) JOIN vocab v USING (sym)
      |  GROUP BY d.doc_id),
      |s2 AS (
      |  SELECT doc_id, ids_str, n_ids,
      |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':sft11'), 1, 8)
      |      AS BIGINT) % 4 AS shard
      |  FROM docids),
      |dd AS MATERIALIZED (SELECT doc_id, ids_str, n_ids, shard,
      |    ROW_NUMBER() OVER (PARTITION BY shard
      |      ORDER BY n_ids DESC, doc_id) AS rn
      |  FROM s2),
      |fd AS (
      |  SELECT shard, CAST(0 AS BIGINT) AS rn,
      |    CAST([] AS BIGINT[]) AS rems,
      |    CAST(NULL AS BIGINT) AS abin, CAST(NULL AS BIGINT) AS aoff
      |  FROM (SELECT DISTINCT shard FROM s2)
      |  UNION ALL
      |  SELECT dd.shard, fd.rn + 1,
      |    CASE WHEN list_min(list_filter(fd.rems,
      |        r -> r >= dd.n_ids)) IS NULL
      |      THEN list_append(fd.rems, 1024 - dd.n_ids)
      |      ELSE fd.rems[:list_position(fd.rems, list_min(
      |          list_filter(fd.rems, r -> r >= dd.n_ids))) - 1]
      |        || [list_min(list_filter(fd.rems,
      |             r -> r >= dd.n_ids)) - dd.n_ids]
      |        || fd.rems[list_position(fd.rems, list_min(
      |          list_filter(fd.rems, r -> r >= dd.n_ids))) + 1:]
      |    END,
      |    CASE WHEN list_min(list_filter(fd.rems,
      |        r -> r >= dd.n_ids)) IS NULL
      |      THEN CAST(len(fd.rems) AS BIGINT)
      |      ELSE CAST(list_position(fd.rems, list_min(
      |        list_filter(fd.rems, r -> r >= dd.n_ids))) - 1 AS BIGINT)
      |    END,
      |    CASE WHEN list_min(list_filter(fd.rems,
      |        r -> r >= dd.n_ids)) IS NULL
      |      THEN CAST(0 AS BIGINT)
      |      ELSE 1024 - list_min(list_filter(fd.rems,
      |        r -> r >= dd.n_ids))
      |    END
      |  FROM fd JOIN dd ON dd.shard = fd.shard AND dd.rn = fd.rn + 1),
      |seqs AS (
      |  SELECT dd.shard, fd.abin AS bin, COUNT(*) AS n_docs,
      |    CAST(SUM(dd.n_ids) AS INTEGER) AS n_tokens,
      |    string_agg(dd.ids_str, ' ' ORDER BY fd.aoff) AS raw,
      |    string_agg(CAST(fd.aoff AS VARCHAR), ' ' ORDER BY fd.aoff)
      |      AS doc_starts_str
      |  FROM dd JOIN fd ON fd.shard = dd.shard AND fd.rn = dd.rn
      |  GROUP BY dd.shard, fd.abin)
      |SELECT shard, bin, n_docs, n_tokens,
      |  raw || repeat(' 0', 1024 - n_tokens) AS input_ids_str,
      |  doc_starts_str
      |FROM seqs
      |ORDER BY shard ASC NULLS FIRST, bin ASC NULLS FIRST""".stripMargin

  /** The generic per-round CTEs (best pair under the total order →
    * run-parity greedy rewrite) — shared verbatim by the word-level
    * chain ([[bpeCtesSql]]) and the byte-level chain
    * ([[bpeBytesOracleSql]]): the rounds only see (word, freq, pos,
    * sym), so the alphabet and terminal conventions live entirely in
    * the st0 base. */
  /** Unigram-LM oracle machinery (t_unigram_model / t_unigram): the
    * candidate-substring fit, integer `length(bin(x))` costs, and the
    * Viterbi DP unrolled per word position (one CTE block per position
    * up to `maxWordLen`; positions past a word's length produce no
    * rows). The DP cell order (cost ASC, pieces ASC, length DESC) is
    * the expression's exact tie order. */
  private def ugFitCtes(topMulti: Int, maxPieceLen: Int): String =
    s"""w0 AS MATERIALIZED (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(lower($normSql), ' ')) AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0
       |  GROUP BY tok),
       |sub0 AS MATERIALIZED (
       |  SELECT substr(word, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS p,
       |    CAST(SUM(freq) AS BIGINT) AS c
       |  FROM w0,
       |    unnest(range(1, length(word) + 1)) t(i),
       |    unnest(range(1, least($maxPieceLen, length(word) - i + 1) + 1)) u(l)
       |  GROUP BY 1),
       |chars AS (SELECT p, c FROM sub0 WHERE length(p) = 1),
       |multi AS (SELECT p, c FROM sub0 WHERE length(p) >= 2
       |  ORDER BY c DESC, p ASC LIMIT $topMulti),
       |sel AS MATERIALIZED (
       |  SELECT p, c FROM chars UNION ALL SELECT p, c FROM multi),
       |tot1 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM sel),
       |vc1 AS MATERIALIZED (
       |  SELECT p, c,
       |    CAST(length(bin(t)) - length(bin(c)) AS INTEGER) AS cost
       |  FROM sel CROSS JOIN tot1)""".stripMargin

  /** One unrolled Viterbi pass `${pfx}…` over w0's words against the
    * cost CTE `vcCte(p, cost)`: per-position best cells, then the
    * recursive backtrack into `${pfx}seg(word, step, piece)` (step
    * DESC = left-to-right). */
  private def ugDpCtes(pfx: String, vcCte: String,
      maxWordLen: Int): String = {
    val cand =
      s"""${pfx}cand AS MATERIALIZED (
         |  SELECT w.word, CAST(t.i AS BIGINT) AS i, v.cost,
         |    CAST(length(v.p) AS BIGINT) AS l
         |  FROM w0 w, unnest(range(1, length(w.word) + 1)) t(i)
         |  JOIN $vcCte v
         |    ON length(v.p) <= t.i
         |    AND v.p = substr(w.word, CAST(t.i - length(v.p) + 1 AS INTEGER),
         |      length(v.p))),
         |${pfx}du0 AS (
         |  SELECT word, CAST(0 AS BIGINT) AS pos, 0 AS cost, 0 AS np,
         |    CAST(0 AS BIGINT) AS l
         |  FROM w0)""".stripMargin
    val steps = (1 to maxWordLen).map { i =>
      s"""${pfx}d$i AS MATERIALIZED (
         |  SELECT word, pos, cost, np, l FROM (
         |    SELECT c.word, CAST($i AS BIGINT) AS pos,
         |      d.cost + c.cost AS cost, d.np + 1 AS np, c.l,
         |      ROW_NUMBER() OVER (PARTITION BY c.word
         |        ORDER BY d.cost + c.cost ASC, d.np + 1 ASC, c.l DESC) AS rn
         |    FROM ${pfx}cand c
         |    JOIN ${pfx}du${i - 1} d ON d.word = c.word AND d.pos = $i - c.l
         |    WHERE c.i = $i)
         |  WHERE rn = 1),
         |${pfx}du$i AS (
         |  SELECT * FROM ${pfx}du${i - 1} UNION ALL SELECT * FROM ${pfx}d$i)""".stripMargin
    }
    val walk =
      s"""${pfx}bt AS (
         |  SELECT word, CAST(length(word) AS BIGINT) AS pos, 0 AS step
         |  FROM w0
         |  UNION ALL
         |  SELECT b.word, b.pos - d.l, b.step + 1
         |  FROM ${pfx}bt b JOIN ${pfx}du$maxWordLen d
         |    ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0),
         |${pfx}seg AS MATERIALIZED (
         |  SELECT b.word, b.step,
         |    substr(b.word, CAST(b.pos - d.l + 1 AS INTEGER),
         |      CAST(d.l AS INTEGER)) AS piece
         |  FROM ${pfx}bt b JOIN ${pfx}du$maxWordLen d
         |    ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    (cand +: steps :+ walk).mkString(",\n")
  }

  /** [[ugDpCtes]] with BYTE-FALLBACK edges (r13) over an arbitrary
    * word table: every position additionally offers a single-code-point
    * decomposition edge at `(MAX(cost)+8) · nUtf8Bytes` (the
    * Unigram.withByteFallback penalty — strictly above every real cost,
    * so covered text never falls back), flagged `fb` through the DP so
    * the walk emits `<0xXX>` pieces (npieces = the byte count) instead
    * of the raw character. */
  private def ugDpFallbackCtes(pfx: String, vcCte: String,
      wordTable: String, maxWordLen: Int): String = {
    val cand =
      s"""${pfx}mx AS (SELECT MAX(cost) + 8 AS bc FROM $vcCte),
         |${pfx}cand AS MATERIALIZED (
         |  SELECT w.word, CAST(t.i AS BIGINT) AS i, v.cost,
         |    CAST(length(v.p) AS BIGINT) AS l, 0 AS fb
         |  FROM $wordTable w, unnest(range(1, length(w.word) + 1)) t(i)
         |  JOIN $vcCte v
         |    ON length(v.p) <= t.i
         |    AND v.p = substr(w.word, CAST(t.i - length(v.p) + 1 AS INTEGER),
         |      length(v.p))
         |  UNION ALL
         |  SELECT w.word, CAST(t.i AS BIGINT) AS i,
         |    CAST(m.bc * (length(hex(encode(
         |      substr(w.word, CAST(t.i AS INTEGER), 1)))) // 2) AS INTEGER)
         |      AS cost,
         |    CAST(1 AS BIGINT) AS l, 1 AS fb
         |  FROM $wordTable w, unnest(range(1, length(w.word) + 1)) t(i)
         |  CROSS JOIN ${pfx}mx m),
         |${pfx}du0 AS (
         |  SELECT word, CAST(0 AS BIGINT) AS pos, 0 AS cost, 0 AS np,
         |    CAST(0 AS BIGINT) AS l, 0 AS fb
         |  FROM $wordTable)""".stripMargin
    val steps = (1 to maxWordLen).map { i =>
      s"""${pfx}d$i AS MATERIALIZED (
         |  SELECT word, pos, cost, np, l, fb FROM (
         |    SELECT c.word, CAST($i AS BIGINT) AS pos,
         |      d.cost + c.cost AS cost, d.np + 1 AS np, c.l, c.fb,
         |      ROW_NUMBER() OVER (PARTITION BY c.word
         |        ORDER BY d.cost + c.cost ASC, d.np + 1 ASC, c.l DESC,
         |          c.fb ASC) AS rn
         |    FROM ${pfx}cand c
         |    JOIN ${pfx}du${i - 1} d ON d.word = c.word AND d.pos = $i - c.l
         |    WHERE c.i = $i)
         |  WHERE rn = 1),
         |${pfx}du$i AS (
         |  SELECT * FROM ${pfx}du${i - 1} UNION ALL SELECT * FROM ${pfx}d$i)""".stripMargin
    }
    val walk =
      s"""${pfx}bt AS (
         |  SELECT word, CAST(length(word) AS BIGINT) AS pos, 0 AS step
         |  FROM $wordTable
         |  UNION ALL
         |  SELECT b.word, b.pos - d.l, b.step + 1
         |  FROM ${pfx}bt b JOIN ${pfx}du$maxWordLen d
         |    ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0),
         |${pfx}seg AS MATERIALIZED (
         |  SELECT b.word, b.step,
         |    CASE WHEN d.fb = 1 THEN array_to_string(list_transform(
         |      range(0, length(hex(encode(
         |        substr(b.word, CAST(b.pos AS INTEGER), 1)))) // 2),
         |      j -> '<0x' || substr(hex(encode(
         |        substr(b.word, CAST(b.pos AS INTEGER), 1))),
         |        CAST(j * 2 + 1 AS INTEGER), 2) || '>'), ' ')
         |    ELSE substr(b.word, CAST(b.pos - d.l + 1 AS INTEGER),
         |      CAST(d.l AS INTEGER)) END AS piece,
         |    CASE WHEN d.fb = 1 THEN length(hex(encode(
         |      substr(b.word, CAST(b.pos AS INTEGER), 1)))) // 2
         |    ELSE 1 END AS npieces
         |  FROM ${pfx}bt b JOIN ${pfx}du$maxWordLen d
         |    ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    (cand +: steps :+ walk).mkString(",\n")
  }

  /** Pass-1 segmentation → recount → add-one smooth → refined costs. */
  private def ugModelCtes(topMulti: Int, maxPieceLen: Int,
      maxWordLen: Int): String =
    ugFitCtes(topMulti, maxPieceLen) + ",\n" +
      ugDpCtes("u1", "vc1", maxWordLen) + ",\n" +
      s"""cnt2 AS (
         |  SELECT s.piece AS p, CAST(SUM(w.freq) AS BIGINT) AS c2
         |  FROM u1seg s JOIN w0 w USING (word) GROUP BY s.piece),
         |sm AS MATERIALIZED (
         |  SELECT v.p, CAST(COALESCE(c.c2, 0) + 1 AS BIGINT) AS f2
         |  FROM vc1 v LEFT JOIN cnt2 c USING (p)),
         |tot2 AS (SELECT CAST(SUM(f2) AS BIGINT) AS t FROM sm),
         |vc2 AS MATERIALIZED (
         |  SELECT p, f2 AS c,
         |    CAST(length(bin(t)) - length(bin(f2)) AS INTEGER) AS cost
         |  FROM sm CROSS JOIN tot2)""".stripMargin

  private[queries] lazy val unigramModelOracleSql: String =
    "WITH RECURSIVE " + ugModelCtes(16, 6, 12) + "\n" +
      """SELECT p AS piece, c AS freq, cost AS cost_bits FROM vc2
        |ORDER BY piece ASC NULLS FIRST""".stripMargin

  /** The st_hb_unigram oracle — the doc chain, encode column only. */
  private[queries] lazy val unigramStreamOracleSql: String =
    "WITH RECURSIVE " + ugModelCtes(16, 6, 12) + ",\n" +
      ugDpCtes("u2", "vc2", 12) + ",\n" +
      s"""wenc2 AS (
         |  SELECT word, string_agg(piece, ' ' ORDER BY step DESC) AS ws
         |  FROM u2seg GROUP BY word),
         |dtok2 AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS tpos, tk[CAST(i AS INTEGER)] AS word
         |  FROM (SELECT doc_id, string_split(lower($normSql), ' ') AS tk
         |        FROM documents),
         |    unnest(range(1, len(tk) + 1)) AS t(i)
         |  WHERE length(tk[CAST(i AS INTEGER)]) > 0)
         |SELECT d.doc_id, string_agg(e.ws, ' ' ORDER BY d.tpos) AS ug
         |FROM dtok2 d JOIN wenc2 e USING (word)
         |GROUP BY d.doc_id
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  private[queries] lazy val unigramDocOracleSql: String =
    "WITH RECURSIVE " + ugModelCtes(16, 6, 12) + ",\n" +
      ugDpCtes("u2", "vc2", 12) + ",\n" +
      s"""wenc2 AS (
         |  SELECT word, string_agg(piece, ' ' ORDER BY step DESC) AS ws,
         |    COUNT(*) AS np
         |  FROM u2seg GROUP BY word),
         |dtok2 AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS tpos, tk[CAST(i AS INTEGER)] AS word
         |  FROM (SELECT doc_id, string_split(lower($normSql), ' ') AS tk
         |        FROM documents),
         |    unnest(range(1, len(tk) + 1)) AS t(i)
         |  WHERE length(tk[CAST(i AS INTEGER)]) > 0)
         |SELECT d.doc_id, string_agg(e.ws, ' ' ORDER BY d.tpos) AS ug,
         |  CAST(SUM(e.np) AS BIGINT) AS n_pieces
         |FROM dtok2 d JOIN wenc2 e USING (word)
         |GROUP BY d.doc_id
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The hb_unigram_ids / st_hb_unigram_ids oracle — the unigram doc
    * chain with every piece mapped through the sorted-order id layout
    * ([UNK] = 0 never fires on the training corpus: character coverage
    * keeps every word segmentable). */
  private[queries] lazy val unigramIdsOracleSql: String =
    "WITH RECURSIVE " + ugModelCtes(16, 6, 12) + ",\n" +
      ugDpCtes("u2", "vc2", 12) + ",\n" +
      s"""uvid AS (
         |  SELECT p, CAST(ROW_NUMBER() OVER (ORDER BY p ASC) AS INTEGER) AS id
         |  FROM vc2),
         |wenc3 AS (
         |  SELECT s.word,
         |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY s.step DESC) AS ids,
         |    COUNT(*) AS np
         |  FROM u2seg s JOIN uvid v ON v.p = s.piece
         |  GROUP BY s.word),
         |dtok3 AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS tpos, tk[CAST(i AS INTEGER)] AS word
         |  FROM (SELECT doc_id, string_split(lower($normSql), ' ') AS tk
         |        FROM documents),
         |    unnest(range(1, len(tk) + 1)) AS t(i)
         |  WHERE length(tk[CAST(i AS INTEGER)]) > 0)
         |SELECT d.doc_id, string_agg(e.ids, ' ' ORDER BY d.tpos) AS ids_str,
         |  CAST(SUM(e.np) AS BIGINT) AS n_ids
         |FROM dtok3 d JOIN wenc3 e USING (word)
         |GROUP BY d.doc_id
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The st_hb_wordpiece oracle — the same chain, encode column only
    * (the stream side emits doc_id + wp). */
  private[queries] lazy val wordPieceStreamOracleSql: String =
    "WITH RECURSIVE " + wordPieceCtesSql(6) + ",\n" +
      wordPieceEncodeSql(6) + "\n" +
      """SELECT d.doc_id, string_agg(e.ws, ' ' ORDER BY d.tpos) AS wp
        |FROM dtok d JOIN wenc e USING (word)
        |GROUP BY d.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_wordpiece / hb_wordpiece oracle: 6 training rounds, the
    * vocabulary, the greedy walk and per-document reassembly. */
  /** The t_wordpiece_ids / hb_wordpiece_ids / st_hb_wordpiece_ids
    * oracle — fit rounds, vocabulary ids, the greedy walk, [UNK]
    * collapse, and ordered document reassembly. */
  private[queries] lazy val wordPieceIdsOracleSql: String =
    "WITH RECURSIVE " + wordPieceCtesSql(6) + ",\n" +
      wordPieceEncodeSql(6) + ",\n" +
      """vid AS (
        |  SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym ASC) AS INTEGER) AS id
        |  FROM vocab),
        |wpieces AS (SELECT word, step, piece FROM walk WHERE piece IS NOT NULL),
        |wbad AS (SELECT word, MAX(bad) AS bad FROM walk GROUP BY word),
        |wagg AS (
        |  SELECT p.word,
        |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY p.step) AS ids,
        |    COUNT(*) AS np
        |  FROM wpieces p JOIN vid v ON v.sym = p.piece
        |  GROUP BY p.word),
        |wid AS (
        |  SELECT b.word,
        |    CASE WHEN b.bad = 1 THEN '0' ELSE a.ids END AS ids,
        |    CASE WHEN b.bad = 1 THEN CAST(1 AS BIGINT) ELSE a.np END AS np
        |  FROM wbad b LEFT JOIN wagg a USING (word))
        |SELECT d.doc_id, string_agg(w.ids, ' ' ORDER BY d.tpos) AS ids_str,
        |  CAST(SUM(w.np) AS BIGINT) AS n_ids
        |FROM dtok d JOIN wid w USING (word)
        |GROUP BY d.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_wordpiece_specials oracle — the t_wordpiece_ids chain with
    * the two reserved ids (vocab count + 1 + k) spliced around every
    * document's stream. */
  private[queries] lazy val wordPieceSpecialsOracleSql: String =
    "WITH RECURSIVE " + wordPieceCtesSql(6) + ",\n" +
      wordPieceEncodeSql(6) + ",\n" +
      """vid AS (
        |  SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym ASC) AS INTEGER) AS id
        |  FROM vocab),
        |wpieces AS (SELECT word, step, piece FROM walk WHERE piece IS NOT NULL),
        |wbad AS (SELECT word, MAX(bad) AS bad FROM walk GROUP BY word),
        |wagg AS (
        |  SELECT p.word,
        |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY p.step) AS ids,
        |    COUNT(*) AS np
        |  FROM wpieces p JOIN vid v ON v.sym = p.piece
        |  GROUP BY p.word),
        |wid AS (
        |  SELECT b.word,
        |    CASE WHEN b.bad = 1 THEN '0' ELSE a.ids END AS ids,
        |    CASE WHEN b.bad = 1 THEN CAST(1 AS BIGINT) ELSE a.np END AS np
        |  FROM wbad b LEFT JOIN wagg a USING (word)),
        |nv AS (SELECT CAST(COUNT(*) AS INTEGER) AS nvocab FROM vocab)
        |SELECT d.doc_id,
        |  CAST(nv.nvocab + 1 AS VARCHAR) || ' ' ||
        |    string_agg(w.ids, ' ' ORDER BY d.tpos) || ' ' ||
        |    CAST(nv.nvocab + 2 AS VARCHAR) AS ids_str,
        |  CAST(SUM(w.np) + 2 AS BIGINT) AS n_ids
        |FROM dtok d JOIN wid w USING (word) CROSS JOIN nv
        |GROUP BY d.doc_id, nv.nvocab
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The t_unigram_fallback oracle — the model chain (UNCHANGED by the
    * fallback upgrade: byte pieces are a fixed penalty, not mass), then
    * the fallback DP over the EXTENDED word table (corpus words + the
    * appended out-of-alphabet word), and per-document reassembly with
    * the byte-piece expansion and the zero-[UNK] count. */
  private[queries] lazy val unigramFallbackOracleSql: String = {
    val fxNorm =
      "regexp_replace(text || ' caf' || chr(233) || chr(8364), " +
        "'\\s+', ' ', 'g')"
    "WITH RECURSIVE " + ugModelCtes(16, 6, 12) + ",\n" +
      s"""dtokf AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS tpos, tk[CAST(i AS INTEGER)] AS word
         |  FROM (SELECT doc_id, string_split(lower($fxNorm), ' ') AS tk
         |        FROM documents),
         |    unnest(range(1, len(tk) + 1)) AS t(i)
         |  WHERE length(tk[CAST(i AS INTEGER)]) > 0),
         |wf AS MATERIALIZED (SELECT DISTINCT word FROM dtokf),
         |""".stripMargin +
      ugDpFallbackCtes("uf", "vc2", "wf", 12) + ",\n" +
      """wencf AS (
        |  SELECT word, string_agg(piece, ' ' ORDER BY step DESC) AS ws,
        |    CAST(SUM(npieces) AS BIGINT) AS np
        |  FROM ufseg GROUP BY word)
        |SELECT d.doc_id, string_agg(e.ws, ' ' ORDER BY d.tpos) AS ug,
        |  CAST(SUM(e.np) AS BIGINT) AS n_pieces,
        |  CAST(SUM(CASE WHEN e.ws = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unk
        |FROM dtokf d JOIN wencf e USING (word)
        |GROUP BY d.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
  }

  /** The t_unigram_specials oracle — the hb_unigram_ids chain with the
    * two reserved ids (piece count + 1 + k) spliced around every
    * document's stream. */
  private[queries] lazy val unigramSpecialsOracleSql: String =
    "WITH RECURSIVE " + ugModelCtes(16, 6, 12) + ",\n" +
      ugDpCtes("u2", "vc2", 12) + ",\n" +
      s"""uvid AS (
         |  SELECT p, CAST(ROW_NUMBER() OVER (ORDER BY p ASC) AS INTEGER) AS id
         |  FROM vc2),
         |wenc3 AS (
         |  SELECT s.word,
         |    string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY s.step DESC) AS ids,
         |    COUNT(*) AS np
         |  FROM u2seg s JOIN uvid v ON v.p = s.piece
         |  GROUP BY s.word),
         |dtok3 AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS tpos, tk[CAST(i AS INTEGER)] AS word
         |  FROM (SELECT doc_id, string_split(lower($normSql), ' ') AS tk
         |        FROM documents),
         |    unnest(range(1, len(tk) + 1)) AS t(i)
         |  WHERE length(tk[CAST(i AS INTEGER)]) > 0),
         |nv AS (SELECT CAST(COUNT(*) AS INTEGER) AS nvocab FROM vc2)
         |SELECT d.doc_id,
         |  CAST(nv.nvocab + 1 AS VARCHAR) || ' ' ||
         |    string_agg(e.ids, ' ' ORDER BY d.tpos) || ' ' ||
         |    CAST(nv.nvocab + 2 AS VARCHAR) AS ids_str,
         |  CAST(SUM(e.np) + 2 AS BIGINT) AS n_ids
         |FROM dtok3 d JOIN wenc3 e USING (word) CROSS JOIN nv
         |GROUP BY d.doc_id, nv.nvocab
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  private[queries] lazy val wordPieceDocOracleSql: String =
    "WITH RECURSIVE " + wordPieceCtesSql(6) + ",\n" +
      wordPieceEncodeSql(6) + "\n" +
      """SELECT d.doc_id, string_agg(e.ws, ' ' ORDER BY d.tpos) AS wp,
        |  CAST(SUM(e.np) AS BIGINT) AS n_pieces
        |FROM dtok d JOIN wenc e USING (word)
        |GROUP BY d.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** WordPiece training rounds unrolled as CTEs (the bpeStepsSql
    * recipe with the two WordPiece differences): pair candidates rank
    * by the fixed-point likelihood score `pc·1e6 div (uc_l·uc_r)`
    * under (score DESC, pair count DESC, l ASC, r ASC), and the merged
    * symbol drops the right part's `##`. st0 spells words BERT-style
    * (initial char bare, continuations `##`-prefixed, no `</w>`). */
  private[queries] def wordPieceCtesSql(n: Int): String = {
    val base =
      """w0 AS MATERIALIZED (
        |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
        |        FROM documents)
        |  WHERE length(tok) > 0
        |  GROUP BY tok),
        |st0 AS (
        |  SELECT word, freq, CAST(i AS BIGINT) AS pos,
        |    CASE WHEN i = 1 THEN substr(word, i, 1)
        |      ELSE '##' || substr(word, i, 1) END AS sym
        |  FROM w0, unnest(range(1, length(word) + 1)) AS t(i))""".stripMargin
    val steps = (1 to n).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT word, freq, pos, sym,
         |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM st${k - 1}),
         |u$k AS MATERIALIZED (
         |  SELECT sym AS us, CAST(SUM(freq) AS BIGINT) AS uc
         |  FROM st${k - 1} GROUP BY sym),
         |b$k AS MATERIALIZED (
         |  SELECT p.sym AS l, p.nxt AS r,
         |    (CAST(SUM(p.freq) AS BIGINT) * 1000000) // (ul.uc * ur.uc) AS sc,
         |    CAST(SUM(p.freq) AS BIGINT) AS pc
         |  FROM p$k p JOIN u$k ul ON ul.us = p.sym
         |    JOIN u$k ur ON ur.us = p.nxt
         |  WHERE p.nxt IS NOT NULL
         |  GROUP BY p.sym, p.nxt, ul.uc, ur.uc
         |  ORDER BY sc DESC, pc DESC, l ASC, r ASC LIMIT 1),
         |m$k AS (
         |  SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
         |    CASE WHEN p.sym = b.l AND p.nxt = b.r THEN 1 ELSE 0 END AS cand
         |  FROM p$k p CROSS JOIN b$k b),
         |g$k AS (
         |  SELECT word, freq, pos, sym, nxt, cand,
         |    pos - SUM(cand) OVER (PARTITION BY word ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM m$k),
         |h$k AS (
         |  SELECT word, freq, pos, sym, nxt, cand,
         |    CASE WHEN cand = 1 AND (ROW_NUMBER() OVER (
         |        PARTITION BY word, cand, grp ORDER BY pos) - 1) % 2 = 0
         |      THEN 1 ELSE 0 END AS mrg
         |  FROM g$k),
         |i$k AS (
         |  SELECT word, freq, pos, sym, nxt, mrg,
         |    COALESCE(LAG(mrg) OVER (PARTITION BY word ORDER BY pos), 0) AS consumed
         |  FROM h$k),
         |st$k AS MATERIALIZED (
         |  SELECT word, freq,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         |    CASE WHEN mrg = 1 THEN sym ||
         |        CASE WHEN nxt LIKE '##%' THEN substr(nxt, 3) ELSE nxt END
         |      ELSE sym END AS sym
         |  FROM i$k WHERE consumed = 0)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** The t_wordpiece oracle tail: final vocabulary (st0 alphabet +
    * merged pieces), per-(word, position) longest-match lengths, the
    * deterministic greedy walk as a recursive CTE, and document
    * reassembly. */
  private[queries] def wordPieceEncodeSql(n: Int): String = {
    val mg = (1 to n).map(k =>
      s"SELECT l || CASE WHEN r LIKE '##%' THEN substr(r, 3) ELSE r END AS sym FROM b$k")
      .mkString("\nUNION ALL\n")
    s"""vocab AS MATERIALIZED (
       |  SELECT DISTINCT sym FROM (
       |    SELECT sym FROM st0
       |    UNION ALL
       |$mg)),
       |cands AS MATERIALIZED (
       |  SELECT w.word, t.i AS p,
       |    MAX(CASE WHEN t.i = 1 THEN len(v.sym) ELSE len(v.sym) - 2 END) AS bl
       |  FROM w0 w, unnest(range(1, length(w.word) + 1)) AS t(i)
       |  JOIN vocab v
       |    ON ((t.i = 1 AND v.sym NOT LIKE '##%'
       |          AND v.sym = substr(w.word, CAST(t.i AS INTEGER), len(v.sym)))
       |      OR (t.i > 1 AND v.sym LIKE '##%'
       |          AND substr(v.sym, 3) = substr(w.word, CAST(t.i AS INTEGER), len(v.sym) - 2)))
       |  WHERE (CASE WHEN t.i = 1 THEN len(v.sym) ELSE len(v.sym) - 2 END) <= 16
       |  GROUP BY w.word, t.i),
       |walk AS (
       |  SELECT word, CAST(1 AS BIGINT) AS p, CAST(NULL AS VARCHAR) AS piece,
       |    0 AS bad, 0 AS step
       |  FROM w0
       |  UNION ALL
       |  SELECT w.word, w.p + COALESCE(c.bl, 0),
       |    CASE WHEN c.bl IS NULL THEN NULL
       |      WHEN w.p = 1 THEN substr(w.word, CAST(w.p AS INTEGER), CAST(c.bl AS INTEGER))
       |      ELSE '##' || substr(w.word, CAST(w.p AS INTEGER), CAST(c.bl AS INTEGER)) END,
       |    CASE WHEN c.bl IS NULL THEN 1 ELSE 0 END,
       |    w.step + 1
       |  FROM walk w LEFT JOIN cands c ON c.word = w.word AND c.p = w.p
       |  WHERE w.bad = 0 AND w.p <= length(w.word)),
       |wenc AS (
       |  SELECT word,
       |    CASE WHEN MAX(bad) = 1 THEN '[UNK]'
       |      ELSE string_agg(piece, ' ' ORDER BY step) END AS ws,
       |    CASE WHEN MAX(bad) = 1 THEN CAST(1 AS BIGINT)
       |      ELSE COUNT(piece) END AS np
       |  FROM walk WHERE piece IS NOT NULL OR bad = 1
       |  GROUP BY word),
       |dtok AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS tpos, tk[CAST(i AS INTEGER)] AS word
       |  FROM (SELECT doc_id,
       |          string_split(lower($normSql), ' ') AS tk
       |        FROM documents),
       |    unnest(range(1, len(tk) + 1)) AS t(i)
       |  WHERE length(tk[CAST(i AS INTEGER)]) > 0)""".stripMargin
  }

  private def bpeStepsSql(n: Int): Seq[String] = (1 to n).map { k =>
    s"""p$k AS (
       |  SELECT word, freq, pos, sym,
       |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM st${k - 1}),
       |b$k AS (
       |  SELECT sym AS l, nxt AS r
       |  FROM p$k WHERE nxt IS NOT NULL
       |  GROUP BY sym, nxt
       |  ORDER BY CAST(SUM(freq) AS BIGINT) DESC, l ASC, r ASC LIMIT 1),
       |m$k AS (
       |  SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
       |    CASE WHEN p.sym = b.l AND p.nxt = b.r THEN 1 ELSE 0 END AS cand
       |  FROM p$k p CROSS JOIN b$k b),
       |g$k AS (
       |  SELECT word, freq, pos, sym, nxt, cand,
       |    pos - SUM(cand) OVER (PARTITION BY word ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM m$k),
       |h$k AS (
       |  SELECT word, freq, pos, sym, nxt, cand,
       |    CASE WHEN cand = 1 AND (ROW_NUMBER() OVER (
       |        PARTITION BY word, cand, grp ORDER BY pos) - 1) % 2 = 0
       |      THEN 1 ELSE 0 END AS mrg
       |  FROM g$k),
       |i$k AS (
       |  SELECT word, freq, pos, sym, nxt, mrg,
       |    COALESCE(LAG(mrg) OVER (PARTITION BY word ORDER BY pos), 0) AS consumed
       |  FROM h$k),
       |st$k AS (
       |  SELECT word, freq,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
       |    CASE WHEN mrg = 1 THEN sym || nxt ELSE sym END AS sym
       |  FROM i$k WHERE consumed = 0)""".stripMargin
  }

  private[queries] def bpeCtesSql(n: Int): String = {
    val base =
      """w0 AS (
        |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
        |        FROM documents)
        |  WHERE length(tok) > 0
        |  GROUP BY tok),
        |st0 AS (
        |  SELECT word, freq, CAST(i AS BIGINT) AS pos, substr(word, i, 1) AS sym
        |  FROM w0, unnest(range(1, length(word) + 1)) AS t(i)
        |  UNION ALL
        |  SELECT word, freq, CAST(length(word) + 1 AS BIGINT), '</w>' FROM w0)""".stripMargin
    val steps = bpeStepsSql(n)
    (base +: steps).mkString(",\n")
  }

  /** Fixed-point quality score CTE shared by the two selection gates —
    * the t_quality_score composite quantized to an integer
    * (floor(quality·10⁶)) before any ranking, per the parity rules. */
  private lazy val scoredCteSql: String =
    """scored AS (
      |  SELECT doc_id, lang, source,
      |    CAST(FLOOR(
      |      LEAST(n_tokens * 1.0 / 100.0, 1.0)
      |        * (1.0 - LEAST(punct_ratio, 1.0))
      |        * (0.5 + LEAST(stop_ratio, 0.5)) * 1000000.0) AS BIGINT)
      |      AS score_fp
      |  FROM (
      |    SELECT doc_id, lang, source,
      |      CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
      |      len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
      |        / (len(regexp_extract_all(text, '\S+')) + 1) AS punct_ratio,
      |      len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) * 1.0
      |        / (len(regexp_extract_all(text, '\S+')) + 1) AS stop_ratio
      |    FROM documents))""".stripMargin
}
