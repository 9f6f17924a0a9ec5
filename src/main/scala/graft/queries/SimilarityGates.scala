package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import Gate.t

/** Near-duplicate detection + similarity search gates — thin wrappers
  * over the library operators in graft.operators.{Dedup, Similarity}.
  * Scale design per operator in SCALE.md; planted-duplicate behavior in
  * DedupSpec.
  */
object SimilarityGates {

  // quantized-vector helpers mirroring Similarity.quantize/dotQ exactly
  // (private[queries]: the pretrain flagship oracle in HbGates replays
  // the same semantic-decon arithmetic)
  private[queries] def qSql(v: String): String =
    s"list_transform($v, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1e6) AS BIGINT))"
  private[queries] val dotQSql: (String, String) => String = (a, b) =>
    s"CAST(list_sum(list_transform(list_zip($a, $b), x -> x[1]*x[2])) AS DOUBLE)"

  /** Prefix the CTE names of one KMeansDet.oracleSql chain so several
    * chains (one per PQ subspace) coexist in a single WITH clause.
    * Column aliases (__rn/__n/__rank) and subquery aliases stay as-is —
    * they are scoped to their own CTE. */
  private def prefixKmCtes(sql: String, p: String): String =
    sql.replaceAll(
      "__(raw|pts|rk|nn|dims|ini|pl|cw|rel|km|dF|aF|c\\d+|d\\d+|a\\d+)\\b",
      p + "$1")

  /** The s_kcenter oracle: greedy farthest-first traversal unrolled as
    * k SQL step-blocks (the mmrOracleSql discipline) — c1 is the
    * lowest-id seed, m(t) carries every remaining row's running max
    * fixed-point cosine to the selected set, and c(t+1) takes the
    * (maxsim ASC, id ASC) minimum. Every number matches
    * Similarity.kCenterSelect's pass. */
  private[queries] def kCenterOracleSql(k: Int): String = {
    def sim(cv: String, cn: String) =
      s"CAST(FLOOR(${dotQSql("b.qv", cv)} / (b.nrm * $cn) * 1e9) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS (
       |  SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |e AS (
       |  SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm FROM e0
       |  WHERE SQRT(${dotQSql("qv", "qv")}) > 0),
       |c1 AS (
       |  SELECT vec_id, qv, nrm, CAST(NULL AS BIGINT) AS ms
       |  FROM e ORDER BY vec_id LIMIT 1),
       |m1 AS (
       |  SELECT b.vec_id, b.qv, b.nrm, ${sim("c.qv", "c.nrm")} AS ms
       |  FROM e b, c1 c WHERE b.vec_id != c.vec_id),""".stripMargin
    for (i <- 2 to k) {
      sb ++= s"""
       |c$i AS (
       |  SELECT vec_id, qv, nrm, ms FROM m${i - 1}
       |  ORDER BY ms ASC, vec_id ASC LIMIT 1),""".stripMargin
      if (i < k) sb ++= s"""
       |m$i AS (
       |  SELECT b.vec_id, b.qv, b.nrm,
       |    GREATEST(b.ms, ${sim("c.qv", "c.nrm")}) AS ms
       |  FROM m${i - 1} b, c$i c WHERE b.vec_id != c.vec_id),""".stripMargin
    }
    sb ++= "\nsel AS (\n  " + (1 to k).map(i =>
      s"SELECT $i AS rank, vec_id, ms AS maxsim_fp FROM c$i")
      .mkString("\n  UNION ALL ") + ")"
    sb ++= "\nSELECT CAST(rank AS INTEGER) AS rank, vec_id, maxsim_fp" +
      "\nFROM sel ORDER BY rank ASC NULLS FIRST"
    sb.toString
  }

  /** The s_ann_mmr oracle: the greedy MMR selection unrolled as k SQL
    * step-blocks (the KMeansDet unrolling discipline) — step t computes
    * each remaining candidate's max fixed-point similarity to the
    * selected set u(t−1), ranks the exact integer objective
    * λ·rel − (1−λ)·maxsim with ties to the lowest id, and appends the
    * winner. Every number matches Similarity.mmrTopK's group walk. */
  private[queries] def mmrOracleSql(k: Int, pool: Int, lamTenths: Int): String = {
    val lam = lamTenths
    val unlam = 10 - lamTenths
    val simFp = "CAST(FLOOR(CAST(list_sum(list_transform(" +
      "list_zip(c.qv, s.qv), x -> x[1]*x[2])) AS DOUBLE)" +
      " / (SQRT(CAST(c.self AS DOUBLE)) * SQRT(CAST(s.self AS DOUBLE)))" +
      " * 1e9) AS BIGINT)"
    val steps = (2 to k).map { t =>
      s"""m$t AS (
         |  SELECT c.query_id, c.cid, c.rel, c.qv, c.self,
         |    MAX($simFp) AS ms
         |  FROM cand c JOIN u${t - 1} s ON s.query_id = c.query_id
         |  WHERE NOT EXISTS (SELECT 1 FROM u${t - 1} x
         |    WHERE x.query_id = c.query_id AND x.cid = c.cid)
         |  GROUP BY c.query_id, c.cid, c.rel, c.qv, c.self),
         |s$t AS MATERIALIZED (
         |  SELECT query_id, cid, rel, qv, self,
         |    CAST($lam*rel - $unlam*ms AS BIGINT) AS mmr,
         |    CAST($t AS INTEGER) AS rank
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ($lam*rel - $unlam*ms) DESC, cid) AS rn
         |    FROM m$t) WHERE rn = 1),
         |u$t AS MATERIALIZED (
         |  SELECT query_id, cid, qv, self FROM u${t - 1}
         |  UNION ALL SELECT query_id, cid, qv, self FROM s$t)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to k).map(t => s"SELECT query_id, rank, cid, rel, mmr" +
      s" FROM s$t").mkString("\n  UNION ALL ")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |evn AS MATERIALIZED (
       |  SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm,
       |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS self
       |  FROM ev),
       |q AS (SELECT vec_id AS query_id, qv, nrm FROM evn
       |  WHERE vec_id < 5),
       |relv AS (
       |  SELECT q.query_id, e.vec_id AS cid,
       |    CAST(FLOOR(${dotQSql("q.qv", "e.qv")} / (q.nrm * e.nrm) * 1e9)
       |      AS BIGINT) AS rel
       |  FROM q JOIN evn e ON e.vec_id != q.query_id),
       |cand AS MATERIALIZED (
       |  SELECT query_id, cid, rel, qv, self FROM (
       |    SELECT r.query_id, r.cid, r.rel, e.qv, e.self,
       |      ROW_NUMBER() OVER (PARTITION BY r.query_id
       |        ORDER BY r.rel DESC, r.cid) AS pr
       |    FROM relv r JOIN evn e ON e.vec_id = r.cid) WHERE pr <= $pool),
       |s1 AS MATERIALIZED (
       |  SELECT query_id, cid, rel, qv, self,
       |    CAST($lam*rel AS BIGINT) AS mmr, CAST(1 AS INTEGER) AS rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cid) AS rn FROM cand) WHERE rn = 1),
       |u1 AS MATERIALIZED (
       |  SELECT query_id, cid, qv, self FROM s1),
       |$steps
       |SELECT query_id, rank, cid AS neighbor_id, rel AS rel_fp,
       |  mmr AS mmr_fp
       |FROM ($sel)
       |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
  }

  /** The s_ann_pq oracle: m prefixed KMeansDet chains fit the subspace
    * codebooks over slices of the L2-normalized vectors, then pure SQL
    * replays PQ encoding, the per-query integer LUT, ADC ranking, the
    * shortlist cut, and the exact quantized-cosine re-rank — the same
    * arithmetic Similarity.pqTopK runs, expression for expression. */
  private[queries] def pqOracleSql(m: Int, dim: Int, codes: Int, iters: Int,
      rerank: Int, k: Int, nCells: Int = 0, nprobe: Int = 0): String = {
    val sub = dim / m
    val chains0 = (0 until m).map { s =>
      val feats = (0 until sub).map(i => s"f$i")
      val extract = (0 until sub)
        .map(i => s"xn[${s * sub + i + 1}] AS f$i").mkString(", ")
      prefixKmCtes(
        graft.operators.KMeansDet.oracleSql(
          s"(SELECT vec_id, $extract FROM __xn)",
          Seq("vec_id"), feats, k = codes, iters = iters),
        s"__p${s}_")
    }
    // IVF level: one more chain over the FULL normalized vector (the
    // same cells s_ann_ivf fits), plus the probe/pruning CTEs spliced
    // into the ADC join below
    val ivChain =
      if (nCells == 0) Nil
      else {
        val feats = (0 until dim).map(i => s"f$i")
        val extract = (0 until dim)
          .map(i => s"xn[${i + 1}] AS f$i").mkString(", ")
        Seq(prefixKmCtes(
          graft.operators.KMeansDet.oracleSql(
            s"(SELECT vec_id, $extract FROM __xn)",
            Seq("vec_id"), feats, k = nCells, iters = iters),
          "__iv_"))
      }
    val chains = (chains0 ++ ivChain).mkString(",\n")
    val pruneCtes =
      if (nCells == 0) ""
      else s"""ccq AS (
         |  SELECT rel.__rank AS cell,
         |    list(CAST(FLOOR(c.c * 1e6) AS BIGINT) ORDER BY c.dim) AS cqv
         |  FROM __iv_c$iters c JOIN __iv_rel rel ON rel.j = c.j
         |  GROUP BY rel.__rank),
         |ccn AS (SELECT cell, cqv,
         |  SQRT(${dotQSql("cqv", "cqv")}) AS cnrm FROM ccq),
         |probe AS (
         |  SELECT query_id, cell FROM (
         |    SELECT q.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotQSql("q.qv", "c.cqv")} / (q.qn * c.cnrm)
         |          DESC, c.cell) AS crank
         |    FROM q CROSS JOIN ccn c) WHERE crank <= $nprobe),
         |vcell AS (SELECT vec_id, cluster AS cell FROM __iv_km),
         |""".stripMargin
    val pruneJoin =
      if (nCells == 0) ""
      else "\n  JOIN vcell vc ON vc.vec_id = c.vec_id" +
        "\n  JOIN probe p ON p.query_id = l.query_id AND p.cell = vc.cell"
    val cdUnion = (0 until m).map(s =>
      s"SELECT $s AS s, vec_id, cluster AS code FROM __p${s}_km")
      .mkString("\n  UNION ALL ")
    val cqUnion = (0 until m).map(s =>
      s"SELECT $s AS s, rel.__rank AS j," +
        s" list(CAST(FLOOR(c.c * 1e6) AS BIGINT) ORDER BY c.dim) AS cqv" +
        s" FROM __p${s}_c$iters c JOIN __p${s}_rel rel ON rel.j = c.j" +
        s" GROUP BY rel.__rank")
      .mkString("\n  UNION ALL ")
    s"""WITH __xd AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
       |  FROM embeddings),
       |__xl AS (
       |  SELECT vec_id, xd,
       |    sqrt(list_reduce(
       |      list_prepend(CAST(0.0 AS DOUBLE), list_transform(xd, x -> x*x)),
       |      (a, b) -> a + b)) AS l2
       |  FROM __xd),
       |__xn AS MATERIALIZED (
       |  SELECT vec_id, list_transform(xd, x -> x / greatest(l2, 1e-30)) AS xn
       |  FROM __xl),
       |$chains,
       |cd AS MATERIALIZED ($cdUnion),
       |bad AS (SELECT DISTINCT vec_id FROM cd WHERE code IS NULL),
       |cq AS MATERIALIZED ($cqUnion),
       |cn2 AS (SELECT s, j,
       |  CAST(list_sum(list_transform(cqv, x -> x*x)) AS BIGINT) AS n2
       |  FROM cq),
       |ev AS MATERIALIZED (
       |  SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |evn AS (SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm
       |  FROM ev),
       |q AS MATERIALIZED (
       |  SELECT vec_id, qv, nrm AS qn FROM evn WHERE vec_id < 5),
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.s, c.j,
       |    CAST(list_sum(list_transform(
       |      list_zip(q.qv[c.s*$sub+1 : c.s*$sub+$sub], c.cqv),
       |      x -> x[1]*x[2])) AS BIGINT) AS pdot
       |  FROM q CROSS JOIN cq c),
       |${pruneCtes}xn2 AS (
       |  SELECT c.vec_id, CAST(SUM(n.n2) AS BIGINT) AS xn2
       |  FROM cd c JOIN cn2 n ON n.s = c.s AND n.j = c.code
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM bad)
       |  GROUP BY c.vec_id),
       |adc AS (
       |  SELECT l.query_id, c.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS dot
       |  FROM cd c JOIN lut l ON l.s = c.s AND l.j = c.code$pruneJoin
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM bad)
       |  GROUP BY l.query_id, c.vec_id),
       |ascore AS (
       |  SELECT a.query_id, a.vec_id,
       |    CAST(a.dot AS DOUBLE) /
       |      (q.qn * GREATEST(SQRT(CAST(x.xn2 AS DOUBLE)), 1e-30)) AS acos
       |  FROM adc a JOIN q ON q.vec_id = a.query_id
       |  JOIN xn2 x ON x.vec_id = a.vec_id
       |  WHERE a.vec_id != a.query_id),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY acos DESC, vec_id) AS ar
       |    FROM ascore) WHERE ar <= $rerank),
       |ex AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |    ${dotQSql("q.qv", "b.qv")} / (q.qn * b.nrm) AS cosine
       |  FROM short s JOIN q ON q.vec_id = s.query_id
       |  JOIN evn b ON b.vec_id = s.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM ex)
       |SELECT query_id, rank, neighbor_id, cosine FROM ranked
       |WHERE rank <= $k
       |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
  }

  /** DuckDB replica of graft.functions.RollingHash over the string held
    * in lambda variable `v`, as an UNSIGNED HUGEINT in [0, 2^64): Java's
    * wrapping h·base+byte fold via an explicit mod 2^64 (the worst
    * intermediate is < 2^84, well inside int128). Bit patterns equal the
    * signed Spark longs, so vote/band extraction downstream is identical;
    * only a final output needs `signed64`. Bytes via hex(encode(..))
    * because DuckDB 1.0 BLOBs don't index; no subqueries allowed inside
    * lambdas, hence the repeated hex() spelling. */
  private def polyHashUSql(v: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |    list_transform(range(1, len(lower(hex(encode($v))))//2 + 1),
       |      i -> CAST(strpos('0123456789abcdef', lower(hex(encode($v)))[2*i-1]) - 1 AS HUGEINT) * 16
       |           + (strpos('0123456789abcdef', lower(hex(encode($v)))[2*i]) - 1))),
       |  (acc, x) -> (acc * 1000003 + x) % CAST(18446744073709551616 AS HUGEINT))""".stripMargin

  /** HUGEINT in [0, 2^64) → the BIGINT with the same 64-bit pattern. */
  private def signed64(e: String): String =
    s"""CAST(CASE WHEN $e >= CAST(9223372036854775808 AS HUGEINT)
       |  THEN $e - CAST(18446744073709551616 AS HUGEINT) ELSE $e END AS BIGINT)""".stripMargin

  /** Wrapping 64-bit multiply of unsigned expression `v` by constant
    * `c`, split so no intermediate exceeds int128:
    * lo(v)·c + (hi(v)·lo(c) mod 2^32)·2^32 (mod 2^64). */
  private def mul64USql(v: String, c: String): String = {
    val cLo = (java.lang.Long.parseUnsignedLong(c) & 0xFFFFFFFFL).toString
    s"((($v % 4294967296) * CAST($c AS HUGEINT) + " +
      s"((($v // 4294967296) * CAST($cLo AS HUGEINT)) % 4294967296) * 4294967296) " +
      "% CAST(18446744073709551616 AS HUGEINT))"
  }

  /** The shared poly+fmix64 token-hash CTE chain over token rows
    * `src(doc_id, i, tok)` → `__th(doc_id, i, u)` with u the unsigned
    * 64-bit hash (each fmix stage one CTE, evaluated once per token). */
  private def fmixChainSql(src: String): String =
    s"""__h0 AS (SELECT doc_id, i, ${polyHashUSql("tok")} AS u FROM $src),
       |__h1 AS (SELECT doc_id, i, xor(u, u >> 33) AS u FROM __h0),
       |__h2 AS (SELECT doc_id, i, ${mul64USql("u", "18397679294719823053")} AS u FROM __h1),
       |__h3 AS (SELECT doc_id, i, xor(u, u >> 33) AS u FROM __h2),
       |__h4 AS (SELECT doc_id, i, ${mul64USql("u", "14181476777654086739")} AS u FROM __h3),
       |__th AS (SELECT doc_id, i, xor(u, u >> 33) AS u FROM __h4)""".stripMargin

  /** The MinHash+LSH CTE chain (portable hasher) up to `__pairs` — the
    * VERIFIED near-dup pairs (ida < idb, shingle Jaccard ≥ 0.5). The
    * survivor oracle (d_minhash_lsh / hb_dedup_minhash) and the
    * connected-components oracle (d_minhash_cc) both build on it. */
  private[queries] lazy val minhashCtesSql: String = {
        val m = "CAST(18446744073709551616 AS HUGEINT)"
        val ps = graft.operators.Dedup.perms(64)
        val mins = ps.zipWithIndex.map { case ((a, b), j) =>
          val au = java.lang.Long.toUnsignedString(a)
          val bu = java.lang.Long.toUnsignedString(b)
          val v = s"((${mul64USql("sh", au)} + CAST($bu AS HUGEINT)) % $m)"
          s"MIN(${signed64(v)}) AS m$j"
        }.mkString(",\n    ")
        val bandRows = (0 until 16).map(k =>
          s"SELECT doc_id, $k AS bidx, m${4 * k} AS e0, m${4 * k + 1} AS e1," +
            s" m${4 * k + 2} AS e2, m${4 * k + 3} AS e3 FROM __sg")
          .mkString("\n  UNION ALL ")
        s"""__tk AS (
           |  SELECT doc_id,
           |    unnest(string_split_regex(lower(text), '\\s+')) AS tok,
           |    generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS i
           |  FROM documents),
           |${fmixChainSql("__tk")},
           |__cn AS (SELECT doc_id, MAX(i) AS t FROM __th GROUP BY doc_id),
           |__shu AS (
           |  SELECT a.doc_id,
           |    CASE WHEN c.u IS NOT NULL
           |           THEN (((a.u*1000003 + b.u) % $m)*1000003 + c.u) % $m
           |         WHEN b.u IS NOT NULL THEN (a.u*1000003 + b.u) % $m
           |         ELSE a.u END AS sh
           |  FROM __th a
           |  JOIN __cn n ON a.doc_id = n.doc_id
           |    AND a.i <= greatest(n.t - 3, 0) + 1
           |  LEFT JOIN __th b ON b.doc_id = a.doc_id AND b.i = a.i + 1
           |  LEFT JOIN __th c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
           |__shs AS (SELECT DISTINCT doc_id, sh FROM __shu),
           |__sg AS (SELECT doc_id, $mins FROM __shs GROUP BY doc_id),
           |__bd AS ($bandRows),
           |__cand AS (
           |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           |  FROM __bd a JOIN __bd b ON a.bidx = b.bidx AND a.e0 = b.e0
           |    AND a.e1 = b.e1 AND a.e2 = b.e2 AND a.e3 = b.e3
           |    AND a.doc_id < b.doc_id),
           |__sets AS (SELECT doc_id, list(sh) AS s, COUNT(*) AS sz
           |           FROM __shs GROUP BY doc_id),
           |__pairs AS (
           |  SELECT c.ida, c.idb
           |  FROM __cand c JOIN __sets x ON x.doc_id = c.ida
           |    JOIN __sets y ON y.doc_id = c.idb
           |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
           |        / (x.sz + y.sz - CAST(len(list_intersect(x.s, y.s)) AS DOUBLE))
           |        >= 0.5)""".stripMargin
  }

  /** Cross-side near-dup oracle (d_minhash_decon / hb_neardup_cfg):
    * [[minhashCtesSql]]'s verified `__pairs` over the whole documents
    * table, filtered to pairs STRADDLING `evalCond` (the SQL boolean
    * over doc_id that marks the reference side), flagging the corpus
    * side. Candidate discovery is per-pair (a band collision between
    * two docs involves only those two), so all-pairs-then-filter here
    * equals the operator's cross-only computation exactly. */
  private[queries] def minhashCrossOracleSql(evalCond: String): String =
    s"""WITH $minhashCtesSql,
       |__side AS (SELECT doc_id, ($evalCond) AS ev FROM documents),
       |__hits AS (
       |  SELECT DISTINCT CASE WHEN sa.ev THEN p.idb ELSE p.ida END AS doc_id
       |  FROM __pairs p
       |  JOIN __side sa ON sa.doc_id = p.ida
       |  JOIN __side sb ON sb.doc_id = p.idb
       |  WHERE sa.ev != sb.ev)
       |SELECT s.doc_id, (h.doc_id IS NOT NULL) AS neardup
       |FROM __side s LEFT JOIN __hits h USING (doc_id)
       |WHERE NOT s.ev
       |ORDER BY s.doc_id ASC NULLS FIRST""".stripMargin

  /** The d_minhash_lsh survivor oracle — the whole MinHash+LSH algorithm
    * (portable hasher, threshold 0.5) re-derived in DuckDB CTEs. Shared
    * with the `.hb`-surface twin `hb_dedup_minhash` in HbGates, whose
    * output (surviving doc_id, ascending) is identical by construction. */
  private[queries] lazy val minhashLshOracleSql: String =
    s"""WITH $minhashCtesSql,
       |__drops AS (SELECT DISTINCT idb AS doc_id FROM __pairs)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM __drops)
       |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The d_minhash_cc oracle: component = min doc_id reachable through
    * the verified near-dup pairs — a recursive transitive closure over
    * the symmetrized `__pairs` (tiny at oracle scale), so the oracle
    * states the SEMANTIC (min reachable id) while the Spark operator is
    * free to iterate however it likes (Components.connectedComponents
    * uses neighbor-min + pointer jumping); any disagreement is a real
    * clustering bug, not an iteration-order artifact. */
  /** The chain up to per-doc `__comp(doc_id, component)` — shared by
    * the clustering oracle and the leakage-safe-split oracle. */
  private[queries] lazy val minhashCcCompCtesSql: String =
    s"""$minhashCtesSql,
       |__symp AS (SELECT ida AS a, idb AS b FROM __pairs
       |           UNION SELECT idb, ida FROM __pairs),
       |__reach AS (
       |  SELECT a, b FROM __symp
       |  UNION
       |  SELECT r.a, e.b FROM __reach r JOIN __symp e ON r.b = e.a),
       |__comp AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
       |      AS component
       |  FROM documents d LEFT JOIN __reach r ON r.a = d.doc_id
       |  GROUP BY d.doc_id)""".stripMargin

  private[queries] lazy val minhashCcOracleSql: String =
    s"""WITH RECURSIVE $minhashCcCompCtesSql
       |SELECT doc_id, component FROM __comp
       |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** The s_ann_topk oracle — exact quantized-cosine top-10 for queries
    * vec_id < 5 against the whole embeddings corpus. Shared with the
    * `.hb`-surface twin `hb_neighbors` in HbGates (identical output
    * schema: query_id, rank, neighbor_id, cosine). */
  private[queries] lazy val annTopkOracleSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |e AS (
       |  SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm
       |  FROM e0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${dotQSql("q.qv", "b.qv")} / (q.nrm * b.nrm) AS cosine
       |  FROM e q JOIN e b ON q.vec_id < 5 AND b.vec_id != q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cosine FROM ranked
       |WHERE rank <= 10
       |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin

  /** The s_ann_ivf oracle — deterministic coarse cells (KMeansDet over
    * the L2-normalized vectors, 3 Lloyd iterations), quantized-cosine
    * probe ranking (nprobe=4), final exact top-10. Shared with the
    * `.hb`-surface twin `hb_neighbors_ivf` in HbGates (`neighbors 10
    * [embedding] [keys < 5] ivf 16` compiles to the same
    * deterministic ivfTopK configuration). */
  private[queries] lazy val ivfOracleSql: String = {
    val dim = 64
    val iters = 3 // __cIters / __rel below are oracleSql's CTE names
    val feats = (0 until dim).map(i => s"f$i")
    val extract = (0 until dim).map(i => s"xn[${i + 1}] AS f$i")
      .mkString(", ")
    val km = graft.operators.KMeansDet.oracleSql(
      s"(SELECT vec_id, $extract FROM __xn)",
      Seq("vec_id"), feats, k = 16, iters = iters)
    s"""WITH __xd AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
       |  FROM embeddings),
       |__xl AS (
       |  SELECT vec_id, xd,
       |    sqrt(list_reduce(
       |      list_prepend(CAST(0.0 AS DOUBLE), list_transform(xd, x -> x*x)),
       |      (a, b) -> a + b)) AS l2
       |  FROM __xd),
       |__xn AS MATERIALIZED (
       |  SELECT vec_id, list_transform(xd, x -> x / greatest(l2, 1e-30)) AS xn
       |  FROM __xl),
       |$km,
       |e0 AS (SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |e AS MATERIALIZED (
       |  SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm FROM e0),
       |__cq AS (
       |  SELECT rel.__rank AS cell,
       |    list(CAST(FLOOR(c.c * 1e6) AS BIGINT) ORDER BY c.dim) AS cqv
       |  FROM __c${iters} c JOIN __rel rel ON rel.j = c.j
       |  GROUP BY rel.__rank),
       |__cn AS (
       |  SELECT cell, cqv, SQRT(${dotQSql("cqv", "cqv")}) AS cnrm FROM __cq),
       |__pr AS (
       |  SELECT q.vec_id AS query_id, q.qv, q.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dotQSql("q.qv", "c.cqv")} / (q.nrm * c.cnrm) DESC,
       |        c.cell) AS crank
       |  FROM e q CROSS JOIN __cn c WHERE q.vec_id < 5),
       |__probe AS (SELECT query_id, qv, nrm, cell FROM __pr WHERE crank <= 4),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${dotQSql("p.qv", "b.qv")} / (p.nrm * b.nrm) AS cosine
       |  FROM __probe p
       |  JOIN (SELECT vec_id, cluster AS cell FROM __km) a
       |    ON a.cell = p.cell AND a.vec_id != p.query_id
       |  JOIN e b ON b.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cosine FROM ranked
       |WHERE rank <= 10
       |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
  }

  /** The s_ann_topk_q8 oracle: identical shape to [[annTopkOracleSql]]
    * but over symmetric-int8 vectors (the per-vector scale cancels out
    * of cosine, so no dequantization appears anywhere). */
  private[queries] lazy val annTopkQ8OracleSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE) AS ma
       |  FROM embeddings),
       |e1 AS (
       |  SELECT vec_id,
       |    CASE WHEN ma > 0
       |      THEN list_transform(embedding,
       |        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
       |      ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
       |  FROM e0),
       |e AS (
       |  SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm
       |  FROM e1),
       |scored AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${dotQSql("q.qv", "b.qv")} / (q.nrm * b.nrm) AS cosine
       |  FROM e q JOIN e b ON q.vec_id < 5 AND b.vec_id != q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cosine FROM ranked
       |WHERE rank <= 10
       |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin

  /** The d_simhash survivor oracle (portable hasher, hamming ≤ 3).
    * Tokens as ROWS (not a list lambda): each fmix64 stage is a CTE
    * evaluated once per token; distinct applies to HASHES like the
    * Spark side's array_distinct-after-transform. Shared with the
    * `.hb`-surface twin `hb_dedup_simhash`. */
  private[queries] lazy val simhashOracleSql: String = {
    val voteBits = (0 until 64).map(j =>
      s"CASE WHEN 2*SUM(CAST((h >> $j) & 1 AS BIGINT)) > n" +
        s" THEN CAST(1 AS HUGEINT) << $j ELSE CAST(0 AS HUGEINT) END")
      .mkString(" + ")
    s"""WITH __tk AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(lower(text), '\\s+')) AS tok,
       |    generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS i
       |  FROM documents),
       |${fmixChainSql("__tk")},
       |__hs AS (SELECT DISTINCT doc_id, u AS h FROM __th),
       |__nn AS (SELECT doc_id, COUNT(*) AS n FROM __hs GROUP BY doc_id),
       |__sig AS (
       |  SELECT doc_id, $voteBits AS su
       |  FROM __hs JOIN __nn USING (doc_id) GROUP BY doc_id, n),
       |__s AS (SELECT doc_id, ${signed64("su")} AS sig FROM __sig),
       |__ch AS (
       |  SELECT doc_id, sig, k AS cidx, (sig >> (16*k)) & 65535 AS chash
       |  FROM __s CROSS JOIN (SELECT unnest([0,1,2,3]) AS k) __k),
       |__drops AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM __ch a JOIN __ch b
       |    ON a.cidx = b.cidx AND a.chash = b.chash AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 3)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM __drops)
       |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
  }

  val gates: Seq[Gate] = Seq(

    // MinHash + LSH near-dup dedup: shingle → 64-perm signature → 16
    // bands → band-hash equi-join candidates → exact Jaccard verify.
    // FULL oracle (rows-only until r5): with the portable token hasher
    // every stage — shingle fold, the 64 permutation mins (wrapping
    // multiply split into int128-safe halves, SIGNED min like Java),
    // band-slice candidate join, exact set-Jaccard verify — is integer
    // or exactly-representable-double arithmetic DuckDB reproduces
    // bit-for-bit. The oracle is the whole algorithm from first
    // principles, not a shortcut: ~20 CTEs generated from the same
    // constants (Dedup.perms) the Spark expression uses.
    Gate("d_minhash_lsh",
      (s, d) => Dedup.minhashLsh(t(s, d, "documents"), "text", "doc_id",
        threshold = 0.5, portable = true)
        .select("doc_id").orderBy(col("doc_id")),
      Some(SimilarityGates.minhashLshOracleSql)),

    // The verified pair EDGE LIST itself, with its fixed-point Jaccard
    // strength — the explainability surface behind dedup/clustering
    // (which doc matched what, how strongly). Same candidates, same
    // verify, one extra projected column.
    Gate("d_minhash_pairs",
      (s, d) => Dedup.minhashPairs(t(s, d, "documents"), "text",
        "doc_id", threshold = 0.5, portable = true)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $minhashCtesSql,
           |scored AS (
           |  SELECT p.ida AS id_a, p.idb AS id_b,
           |    CAST(FLOOR(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
           |      / (x.sz + y.sz
           |         - CAST(len(list_intersect(x.s, y.s)) AS DOUBLE))
           |      * 1e9) AS BIGINT) AS jacc_fp
           |  FROM __pairs p JOIN __sets x ON x.doc_id = p.ida
           |    JOIN __sets y ON y.doc_id = p.idb)
           |SELECT id_a, id_b, jacc_fp FROM scored
           |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin)),

    // Near-dup CLUSTERING: connected components over the verified
    // MinHash pair graph — pair dropping is not transitive grouping
    // (A~B, B~C leaves A,C unrelated), so corpus dedup that keeps one
    // representative per CLUSTER needs the closure. The Spark side
    // iterates neighbor-min + pointer jumping (O(log n) keyed-shuffle
    // rounds, operators.Components); the oracle states the semantic —
    // component = min doc_id reachable — as a recursive CTE, so any
    // disagreement is a clustering bug, not iteration-order noise.
    Gate("d_minhash_cc",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minhashPairs(docs, "text", "doc_id",
          threshold = 0.5, portable = true)
        graft.operators.Components.withComponents(
          docs.select("doc_id"), "doc_id", pairs, "id_a", "id_b")
          .orderBy(col("doc_id"))
      },
      Some(SimilarityGates.minhashCcOracleSql)),

    // FUZZY decontamination / incremental-ingest dedup: corpus docs
    // flagged as verified MinHash near-dups (J ≥ 0.5) of ANY doc in the
    // (hash-bucket 5%-sample) reference set — the cross-frame form of
    // d_minhash_lsh, catching near-verbatim contamination that exact
    // n-gram overlap (t_decontaminate) misses. Candidates are a banded
    // equi-join between the two signature frames (AQE broadcasts a
    // small benchmark side; two big sides shuffle on the band key) —
    // never an all-pairs product. Oracle: the same verified-pairs CTEs,
    // filtered to straddling pairs.
    Gate("d_minhash_decon",
      (s, d) => {
        val docs = t(s, d, "documents")
        val b = graft.operators.Sampling.hashBucket(col("doc_id"), "eval")
        Dedup.flagNearDupsAgainst(docs.filter(b >= 500), docs.filter(b < 500),
          "doc_id", "text", threshold = 0.5, portable = true)
          .select(col("doc_id"), col("neardup"))
          .orderBy(col("doc_id"))
      },
      Some(SimilarityGates.minhashCrossOracleSql(
        "CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':eval'), 1, 8)" +
          " AS BIGINT) % 10000 < 500"))),

    // SimHash near-dup dedup: per-row bit votes (no shuffle), 4×16-bit
    // chunk banding, bit_count(xor) ≤ 3 verify. FULL oracle (rows-only
    // until r5): with the portable token hasher the whole pipeline is
    // integer arithmetic — votes are order-independent INTEGER sums, so
    // unlike RP-LSH's float votes the signature is engine-exact. DuckDB
    // rebuilds signatures from first principles (poly token hash →
    // 64 per-bit vote sums → chunk band self-join → hamming verify) and
    // the survivor sets must agree row-for-row.
    Gate("d_simhash",
      (s, d) => Dedup.simhashDedup(t(s, d, "documents"), "text", "doc_id",
        maxHamming = 3, portable = true)
        .select("doc_id").orderBy(col("doc_id")),
      Some(SimilarityGates.simhashOracleSql)),

    // Exact n-gram Jaccard dedup: LSH-banded candidates, (lang, source)
    // block equality, exact shingle-Jaccard verify. Jaccard is invariant
    // under the xxhash64 shingle relabeling (collisions aside), so DuckDB
    // replicates it on STRING shingles — a full oracle. The division is
    // written identically on both sides (inter/(|a|+|b|-inter) ≥ t) so
    // threshold-boundary floats agree bit-for-bit.
    // Scale ceiling: the LSH candidate stage misses a ≥0.6-Jaccard pair
    // w.p. ≈6e-7, so against this EXACT oracle the gate is sound at the
    // driver's sf0.01/sf0.1 corpora (expected misses ≪ 1) but would
    // become a latent flake at ~1e6+ near-boundary pairs — raise
    // Dedup.ngramJaccard's band count there (DedupSpec separately pins
    // LSH-vs-exhaustive survivor equality at sf0.01).
    Gate("d_ngram_jaccard",
      (s, d) => Dedup.ngramJaccard(t(s, d, "documents"), "text", "doc_id",
        blockCols = Seq("lang", "source"), threshold = 0.6)
        .select("doc_id").orderBy(col("doc_id")),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, lang, source,
             |    string_split_regex(lower(text), '\\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, lang, source,
             |    list_distinct(list_transform(
             |      range(0, greatest(len(tk)-3, 0) + 1),
             |      i -> array_to_string(tk[i+1:i+3], ' '))) AS g
             |  FROM toks),
             |drops AS (
             |  SELECT DISTINCT b.doc_id
             |  FROM sh a JOIN sh b
             |    ON a.lang = b.lang AND a.source = b.source
             |    AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
             |    >= 0.6)
             |SELECT doc_id FROM documents
             |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Embedding-cosine near-dup dedup, blocked on `label`; the
    // fixed-point cosine is bit-stable so the oracle is full SQL.
    Gate("d_embed_cosine_dup",
      (s, d) => Similarity.cosineDedup(t(s, d, "embeddings"), "vec_id",
        "embedding", blockCol = "label", threshold = 0.95)
        .select("vec_id").orderBy(col("vec_id")),
      Some(s"""WITH e AS (
             |  SELECT vec_id, label, ${qSql("embedding")} AS qv
             |  FROM embeddings),
             |en AS (
             |  SELECT vec_id, label, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm
             |  FROM e)
             |SELECT vec_id FROM en
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM en a
             |  WHERE a.label = en.label AND a.vec_id < en.vec_id
             |    AND ${dotQSql("a.qv", "en.qv")} / (a.nrm * en.nrm) >= 0.95)
             |ORDER BY vec_id ASC NULLS FIRST""".stripMargin)),

    // Open-scale cosine dedup: no natural block column — blocks are
    // KMeansDet cells over normalized vectors, multi-probe (top-2)
    // assignment so boundary pairs still share a cell. FULL oracle
    // (rows-only until r5): the full-corpus deterministic fit makes the
    // dedup a pure function of the corpus: the oracle re-derives cells,
    // the 2-nearest multi-probe assignment and the within-cell
    // quantized-cosine verify, and survivor sets must match row-for-row.
    // DedupSpec asserts survivor equality vs the exhaustive pairwise
    // dedup on clustered data.
    Gate("d_embed_cosine_kmeans",
      (s, d) => Similarity.cosineDedupKMeans(t(s, d, "embeddings"),
        "vec_id", "embedding", threshold = 0.95)
        .select("vec_id").orderBy(col("vec_id")),
      Some {
        val dim = 64
        val iters = 3 // __cIters / __rel below are oracleSql's CTE names
        val feats = (0 until dim).map(i => s"f$i")
        val extract = (0 until dim).map(i => s"xn[${i + 1}] AS f$i")
          .mkString(", ")
        val km = graft.operators.KMeansDet.oracleSql(
          s"(SELECT vec_id, $extract FROM __xn)",
          Seq("vec_id"), feats, k = 16, iters = iters)
        s"""WITH __xd AS MATERIALIZED (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
           |  FROM embeddings),
           |__xl AS (
           |  SELECT vec_id, xd,
           |    sqrt(list_reduce(
           |      list_prepend(CAST(0.0 AS DOUBLE), list_transform(xd, x -> x*x)),
           |      (a, b) -> a + b)) AS l2
           |  FROM __xd),
           |__xn AS MATERIALIZED (
           |  SELECT vec_id, list_transform(xd, x -> x / greatest(l2, 1e-30)) AS xn
           |  FROM __xl),
           |$km,
           |e0 AS (SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
           |e AS MATERIALIZED (
           |  SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm FROM e0),
           |__cq AS (
           |  SELECT rel.__rank AS cell,
           |    list(CAST(FLOOR(c.c * 1e6) AS BIGINT) ORDER BY c.dim) AS cqv
           |  FROM __c${iters} c JOIN __rel rel ON rel.j = c.j
           |  GROUP BY rel.__rank),
           |__cn AS (
           |  SELECT cell, cqv, SQRT(${dotQSql("cqv", "cqv")}) AS cnrm FROM __cq),
           |__pr AS (
           |  SELECT v.vec_id, v.qv, v.nrm, c.cell,
           |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
           |      ORDER BY ${dotQSql("v.qv", "c.cqv")} / (v.nrm * c.cnrm) DESC,
           |        c.cell) AS crank
           |  FROM e v CROSS JOIN __cn c),
           |__asg AS MATERIALIZED (
           |  SELECT vec_id, cell, qv, nrm FROM __pr WHERE crank <= 2),
           |__drops AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM __asg a JOIN __asg b
           |    ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${dotQSql("a.qv", "b.qv")} / (a.nrm * b.nrm) >= 0.95)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id NOT IN (SELECT vec_id FROM __drops)
           |ORDER BY vec_id ASC NULLS FIRST""".stripMargin
      }),

    // Brute-force cosine top-k (the ANN correctness baseline): queries
    // are vec_id < 5; exact top-10 each, fully SQL-oracle-checked.
    Gate("s_ann_topk", (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      Some(SimilarityGates.annTopkOracleSql)),

    // QUANTIZED retrieval: the s_ann_topk plan over symmetric-int8
    // vectors (quantizeInt8) — 4× less vector data in the broadcast and
    // scan than float32/fixed-point, the cosine computed directly on the
    // int8 codes (per-vector scale cancels). Approximate ranking
    // (recall@10 ≥ 0.9 vs exact, DedupSpec); this gate pins the
    // quantized ranking itself bit-for-bit against the oracle.
    Gate("s_ann_topk_q8", (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10,
        quantizer = Similarity.quantizeInt8)
        .orderBy(col("query_id"), col("rank"))
    },
      Some(SimilarityGates.annTopkQ8OracleSql)),

    // Symmetric int8 embedding quantization — the storage/shuffle
    // compressor for vector search at scale (4× smaller vectors to
    // shuffle or cache than float32). q_i = floor(x_i·127/max|x| + 0.5),
    // a pure narrow map. Determinism: every division/floor is IEEE
    // double (identical in both engines), the checksums are integer
    // sums (order-free), and the reconstruction error is fixed-point
    // floored BEFORE summing so the aggregate is order-free too. The
    // outer-column reference (`ma`) inside the lambdas can be inlined
    // per element by CollapseProject — bounded at O(dim²)=64² trivial
    // ops per row, worth it to stay whole-stage-codegen.
    // The quantizer IS Similarity.quantizeInt8 (the retrieval twin's
    // codec) — only the checksum/reconstruction expressions are local.
    Gate("s_embed_quantize",
      (s, d) => {
        import org.apache.spark.sql.types._
        val v = col("embedding")
        val ma = array_max(transform(v, x => abs(x.cast(DoubleType))))
        val q = Similarity.quantizeInt8(v)
        t(s, d, "embeddings")
          .select(col("vec_id"), v.as("embedding"), ma.as("ma"), q.as("qv"))
          .select(col("vec_id"),
            (col("ma") / lit(127.0)).as("scale"),
            aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
            aggregate(transform(col("qv"), x => abs(x)), lit(0L), (a, x) => a + x)
              .as("q_l1"),
            aggregate(
              zip_with(col("embedding"), col("qv"), (x, qq) =>
                floor(abs(x.cast(DoubleType) -
                  qq.cast(DoubleType) * (col("ma") / lit(127.0))) * lit(1e9))
                  .cast(LongType)),
              lit(0L), (a, x) => a + x).as("recon_l1_fp"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH m AS (
             |  SELECT vec_id, embedding,
             |    CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE) AS ma
             |  FROM embeddings),
             |q AS (
             |  SELECT vec_id, embedding, ma,
             |    CASE WHEN ma > 0
             |      THEN list_transform(embedding,
             |        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
             |      ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
             |  FROM m)
             |SELECT vec_id,
             |  ma / 127.0 AS scale,
             |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
             |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
             |  CAST(list_sum(list_transform(list_zip(embedding, qv),
             |    p -> CAST(FLOOR(ABS(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * (ma / 127.0)) * 1e9) AS BIGINT)))
             |    AS BIGINT) AS recon_l1_fp
             |FROM q ORDER BY vec_id ASC NULLS FIRST""".stripMargin)),

    // IVF ANN (the scale path): 16 coarse cells, nprobe=4. FULL oracle
    // (rows-only until r5): the cells are a KMeansDet fit over the
    // L2-normalized vectors, so the ENTIRE index —
    // normalization folds, 3 Lloyd iterations (cells need stability,
    // not convergence — see ivfTopK's fitIters note), canonical cell
    // ids, quantized-cosine probe ranking, final top-k — re-derives in
    // SQL. The oracle chains the KMeansDet CTEs (referencing its
    // __c3/__rel/__km internals) with the probe/scoring stages, all in
    // the exact arithmetic the Spark side uses. These are the cells
    // d_embed_cosine_kmeans and s_ann_ivfpq fit: same corpus, same
    // normalization, same (k, iters).
    Gate("s_ann_ivf",
      (s, d) => Similarity.ivfTopK(t(s, d, "embeddings"),
        id => id < 5, "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank")),
      Some(SimilarityGates.ivfOracleSql)),
    // Product-quantization ANN with exact re-rank (Jégou et al. TPAMI
    // 2011): 8 subspace codebooks of 16 codes fit with KMeansDet on the
    // normalized slices, corpus stored as 8 codes + one self-dot, ADC
    // scan shortlists top-50 per query, exact quantized cosine re-ranks
    // to top-10. FULL oracle: eight prefixed KMeansDet CTE chains
    // re-derive every codebook, then DuckDB replays code assignment,
    // the per-query LUT (integer partial dots), the ADC ranking, the
    // shortlist cut, and the exact re-rank — bit-for-bit.
    Gate("s_ann_pq",
      (s, d) => Similarity.pqTopK(t(s, d, "embeddings"),
        id => id < 5, "vec_id", "embedding", k = 10, m = 8, codes = 16,
        rerank = 50)
        .orderBy(col("query_id"), col("rank")),
      Some(pqOracleSql(m = 8, dim = 64, codes = 16, iters = 3,
        rerank = 50, k = 10))),

    // IVF-PQ composition: the same 16 coarse cells s_ann_ivf fits
    // prune the ADC scan to the
    // nprobe=4 probed cells per query before the 8-codebook PQ scoring
    // and exact re-rank — the two-level index shape vector stores run
    // at corpus scale. FULL oracle: the IVF chain + probe CTEs splice
    // into the PQ oracle's ADC join.
    Gate("s_ann_ivfpq",
      (s, d) => Similarity.pqTopK(t(s, d, "embeddings"),
        id => id < 5, "vec_id", "embedding", k = 10, m = 8, codes = 16,
        rerank = 50, nCells = 16, nprobe = 4)
        .orderBy(col("query_id"), col("rank")),
      Some(pqOracleSql(m = 8, dim = 64, codes = 16, iters = 3,
        rerank = 50, k = 10, nCells = 16, nprobe = 4))),

    // MMR diversity re-rank (Carbonell & Goldstein SIGIR '98): exact
    // cosine pool of 50 per query, then greedy λ=0.7 selection of 10 —
    // each step trades relevance against max similarity to what's
    // already selected, in exact fixed-point integers. FULL oracle: the
    // 10 greedy steps unroll as SQL blocks, every objective value and
    // tie-break replayed.
    Gate("s_ann_mmr",
      (s, d) => Similarity.mmrTopK(t(s, d, "embeddings"),
        id => id < 5, "vec_id", "embedding", k = 10, pool = 50,
        lambdaTenths = 7)
        .orderBy(col("query_id"), col("rank")),
      Some(mmrOracleSql(k = 10, pool = 50, lamTenths = 7))),

    // Greedy k-center coreset (farthest-first traversal): the 8 most
    // mutually-dissimilar embeddings, selection trace fully replayed by
    // the unrolled oracle — the diversity-seed dual of s_ann_mmr's
    // per-query re-rank (corpus-global, no query set).
    Gate("s_kcenter",
      (s, d) => Similarity.kCenterSelect(t(s, d, "embeddings"),
        "vec_id", "embedding", k = 8)
        .orderBy(col("rank")),
      Some(kCenterOracleSql(k = 8))),

    // Random-hyperplane LSH ANN (the fit-free scale path): 64-bit
    // sign-projection signatures (native RpSig64), 16×4-bit banded
    // candidates, exact cosine rank. Candidate set depends on the hash
    // family → rows-only; DedupSpec pins recall@10 ≥ 0.9 on clustered
    // embeddings against bruteForceTopK.
    // FULL oracle (rows-only until r5): portable mode signs the
    // QUANTIZED vectors, so the per-plane votes are exact integer sums
    // and the 64 hyperplane hashes are pure functions of (seed, dim) —
    // embedded below as literals from the same RpSig64.planeHash the
    // expression evaluates. DuckDB re-derives signature, 16×4 banding,
    // candidate join and quantized-cosine top-k from first principles.
    Gate("s_ann_rplsh",
      (s, d) => Similarity.rpLshTopK(t(s, d, "embeddings"),
        id => id < 5, "vec_id", "embedding", k = 10, portable = true)
        .orderBy(col("query_id"), col("rank")),
      Some {
        val planes = (0 until 64).map(i =>
          s"($i, CAST(${graft.functions.RpSig64.planeHash(42L, i)} AS BIGINT))")
          .mkString(", ")
        val votes = (0 until 64).map(j =>
          s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN q ELSE -q END) AS v$j")
          .mkString(",\n    ")
        val sigBits = (0 until 64).map(j =>
          s"CASE WHEN v$j > 0 THEN CAST(1 AS HUGEINT) << $j" +
            s" ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
        s"""WITH __pl(i, h) AS (VALUES $planes),
           |__q AS (
           |  SELECT vec_id, unnest(${qSql("embedding")}) AS q,
           |    generate_subscripts(${qSql("embedding")}, 1) - 1 AS i
           |  FROM embeddings),
           |__v AS (
           |  SELECT vec_id, $votes
           |  FROM __q JOIN __pl USING (i) GROUP BY vec_id),
           |__s0 AS (SELECT vec_id, $sigBits AS su FROM __v),
           |__sg AS (SELECT vec_id, ${signed64("su")} AS sig FROM __s0),
           |__bd AS (
           |  SELECT vec_id, k AS band, (sig >> (4*k)) & 15 AS bv
           |  FROM __sg CROSS JOIN (SELECT unnest(range(0, 16)) AS k) __k),
           |__cand AS (
           |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS nid
           |  FROM __bd qb JOIN __bd cb
           |    ON qb.band = cb.band AND qb.bv = cb.bv
           |  WHERE qb.vec_id < 5 AND cb.vec_id != qb.vec_id),
           |e0 AS (SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
           |e AS (SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm
           |      FROM e0),
           |scored AS (
           |  SELECT c.query_id, c.nid AS neighbor_id,
           |    ${dotQSql("q.qv", "b.qv")} / (q.nrm * b.nrm) AS cosine
           |  FROM __cand c JOIN e q ON q.vec_id = c.query_id
           |    JOIN e b ON b.vec_id = c.nid),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, cosine FROM ranked
           |WHERE rank <= 10
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
      }),

    // SEMANTIC decontamination (Decontaminate.semanticFlag): the last 5
    // embeddings play the eval benchmark; every corpus vector carries
    // floor(max-cosine-vs-eval · 1e9) as evidence and a contaminated
    // flag at ≥ 0.25 (the synthetic embeddings are near-orthogonal across clusters, so 0.25 splits the corpus — both flag values appear). The eval set collapses to ONE broadcast row of
    // quantized vectors — the corpus pass is a pure narrow map (zero
    // shuffles). FULL oracle: fixed-point cosines, the max, and the
    // threshold replayed per corpus vector.
    Gate("s_semantic_decon", (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Decontaminate.semanticFlag(
        emb.filter(col("vec_id") < 495).select("vec_id", "embedding"),
        emb.filter(col("vec_id") >= 495),
        "vec_id", "embedding", thresholdFp = 250000000L)
        .select("vec_id", "max_cos_fp", "contaminated")
        .orderBy(col("vec_id"))
    },
      Some(semDeconOracleSql)),

    // Inverted-index lexical retrieval (operators.Retrieval): per-query
    // top-20 corpus docs ranked by distinct shared-term overlap; the
    // query vocabulary broadcasts, corpus postings are restricted to it
    // before any aggregation, and terms in > 78% of docs are cut (the
    // stopword prune that keeps the posting volume bounded at scale).
    // Exact-integer score → FULL oracle.
    Gate("s_lexical_topk",
      (s, d) => graft.operators.Retrieval.lexicalOverlapTopK(
        t(s, d, "documents"),
        t(s, d, "documents").filter(col("doc_id") < 5),
        "doc_id", "text", k = 20, maxDfPermille = 780)
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH $lexCtes
           |SELECT query_id, rank, neighbor_id, overlap FROM lexr
           |WHERE rank <= 20
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin)),

    // Hybrid retrieval: reciprocal-rank fusion (Cormack/Clarke/Buettcher
    // SIGIR'09) of the lexical top-20 and the embedding-cosine top-20
    // for the same 5 seed ids (doc_id ↔ vec_id aligned in the test
    // tables). rrf_fp = Σ 1e9 div (60 + rank) — integer division, so the
    // fused ranking replays exactly; n_lists counts which modalities
    // retrieved each neighbor. Fusion cost is output-sized (lists ×
    // queries × k rows), independent of corpus size.
    Gate("s_hybrid_rrf", (s, d) => {
      val emb = t(s, d, "embeddings")
      val lex = graft.operators.Retrieval.lexicalOverlapTopK(
        t(s, d, "documents"),
        t(s, d, "documents").filter(col("doc_id") < 5),
        "doc_id", "text", k = 20, maxDfPermille = 780)
      val sem = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
      graft.operators.Retrieval.rrfFuse(Seq(lex, sem), k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      Some(SimilarityGates.hybridRrfOracleSql)),

    // BM25-WEIGHTED lexical retrieval (r12 — Retrieval.lexicalBm25TopK):
    // the overlap ranker's quality-ranked sibling — per shared term
    // floor(idf·tfn·1e9) under the exact Okapi k1=1.2/b=0.75 form, the
    // pair score the order-free BIGINT sum (the t_bm25 fixed-point
    // discipline, so DuckDB replays it bit-for-bit). Same scale shape:
    // broadcast query vocabulary, postings restricted BEFORE
    // aggregation, permille stopword cut; the only extra full-corpus
    // pass is one (count, avgdl) aggregate. FULL oracle.
    Gate("s_lexical_bm25",
      (s, d) => graft.operators.Retrieval.lexicalBm25TopK(
        t(s, d, "documents"),
        t(s, d, "documents").filter(col("doc_id") < 5),
        "doc_id", "text", k = 20, maxDfPermille = 780)
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH $lexCtes,
           |$bm25Ctes
           |SELECT query_id, rank, neighbor_id, score_fp FROM bmr
           |WHERE rank <= 20
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin)),

    // THREE-list hybrid retrieval (r12): RRF fusion of the overlap
    // lexical top-20, the BM25 lexical top-20 and the embedding-cosine
    // top-20 for the same 5 seeds — the standard lexical-quality /
    // lexical-recall / semantic triple. Integer 1e9 div (60+rank)
    // contributions; n_lists now reaches 3 where all modalities agree.
    // Fusion cost stays output-sized (3 × queries × k rows).
    Gate("s_hybrid_rrf3", (s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val lex = graft.operators.Retrieval.lexicalOverlapTopK(
        docs, docs.filter(col("doc_id") < 5),
        "doc_id", "text", k = 20, maxDfPermille = 780)
      val bm = graft.operators.Retrieval.lexicalBm25TopK(
        docs, docs.filter(col("doc_id") < 5),
        "doc_id", "text", k = 20, maxDfPermille = 780)
      val sem = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
      graft.operators.Retrieval.rrfFuse(Seq(lex, bm, sem), k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      Some(s"""WITH $lexCtes,
           |$bm25Ctes,
           |$hybridFuse3Ctes
           |SELECT query_id, rank, neighbor_id, rrf_fp, n_lists FROM r3
           |WHERE rank <= 10
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin)),

    // The late-r11 FLAGSHIP composition — retrieval-mined preference
    // pairs (the hard-negative mining pattern behind reward/DPO data):
    // hybrid-RRF retrieve 10 docs per seed → drop semantically
    // contaminated hits (vs the scale-proportional 1% eval slice
    // vec_id%100==7; eval docs themselves never mine) → per seed,
    // pair the MOST relevant
    // retrieved doc (chosen) against the LEAST relevant (rejected) on
    // the exact-integer RRF score. One SQL oracle replays retrieval,
    // fusion, decon and the pairing tie-breaks end to end.
    Gate("s_mined_pairs", (s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val lex = graft.operators.Retrieval.lexicalOverlapTopK(
        docs, docs.filter(col("doc_id") < 5),
        "doc_id", "text", k = 20, maxDfPermille = 780)
      val sem = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
      val fused = graft.operators.Retrieval.rrfFuse(Seq(lex, sem), k = 10)
      val flags = graft.operators.Decontaminate.semanticFlag(
        emb.filter(col("vec_id") % 100 =!= 7).select("vec_id", "embedding"),
        emb.filter(col("vec_id") % 100 === 7),
        "vec_id", "embedding", thresholdFp = 250000000L)
        .select(col("vec_id").as("neighbor_id"), col("contaminated"))
      val cand = fused.join(flags, "neighbor_id")
        .filter(!col("contaminated"))
        .join(docs.select(col("doc_id").as("neighbor_id"), col("text")),
          "neighbor_id")
      graft.operators.Preference.preferencePairs(cand, "query_id",
        "neighbor_id", "text", "rrf_fp", minMarginFp = 1L)
        .orderBy(col("query_id"))
    },
      Some(s"""WITH $lexCtes,
           |$hybridFuseCtes,
           |ev2 AS (SELECT qv, nrm FROM e WHERE vec_id % 100 = 7),
           |mx AS (
           |  SELECT t2.vec_id,
           |    MAX(CASE WHEN t2.nrm > 0 AND v.nrm > 0
           |      THEN CAST(FLOOR(${dotQSql("t2.qv", "v.qv")} / (t2.nrm * v.nrm) * 1e9) AS BIGINT)
           |      ELSE -1000000000 END) AS max_cos_fp
           |  FROM e t2 CROSS JOIN ev2 v WHERE t2.vec_id % 100 != 7
           |  GROUP BY t2.vec_id),
           |cand2 AS (
           |  SELECT r.query_id, r.neighbor_id, r.rrf_fp, d.text
           |  FROM r JOIN mx ON mx.vec_id = r.neighbor_id
           |    JOIN documents d ON d.doc_id = r.neighbor_id
           |  WHERE r.rank <= 10 AND NOT (mx.max_cos_fp >= 250000000)),
           |p1 AS (
           |  SELECT *,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY rrf_fp DESC, neighbor_id ASC) AS rc,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY rrf_fp ASC, neighbor_id DESC) AS rr,
           |    COUNT(*) OVER (PARTITION BY query_id) AS n
           |  FROM cand2),
           |ch AS (SELECT query_id, neighbor_id AS chosen_id, text AS chosen,
           |         rrf_fp AS chosen_score_fp, n FROM p1 WHERE rc = 1),
           |rj AS (SELECT query_id, neighbor_id AS rejected_id,
           |         text AS rejected, rrf_fp AS rejected_score_fp
           |       FROM p1 WHERE rr = 1)
           |SELECT query_id, chosen_id, rejected_id, chosen, rejected,
           |  chosen_score_fp, rejected_score_fp,
           |  chosen_score_fp - rejected_score_fp AS margin_fp,
           |  n AS n_candidates
           |FROM ch JOIN rj USING (query_id)
           |WHERE n >= 2 AND chosen_score_fp - rejected_score_fp >= 1
           |ORDER BY query_id ASC NULLS FIRST""".stripMargin))
  )

  /** The s_hybrid_rrf oracle — also the hb_retrieve_cfg twin in
    * HbGates: `Graft.retrieve(corpus, seeds, k=10)` pools 2k=20 per
    * list with the same 780-permille df cut and doc_id<5 seeds, so the
    * configuration-algebra form hashes to the identical fused frame. */
  private[queries] lazy val hybridRrfOracleSql: String =
    s"""WITH $lexCtes,
       |$hybridFuseCtes
       |SELECT query_id, rank, neighbor_id, rrf_fp, n_lists FROM r
       |WHERE rank <= 10
       |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin

  /** The RRF-fusion CTE chain (assumes `lexr` is in scope): quantized
    * cosine top-20 per seed + the lexical top-20, fused with integer
    * `1e9 // (60 + rank)` contributions into the ranked frame `r`.
    * Shared by s_hybrid_rrf and the s_mined_pairs flagship.
    * Pre-stripped (no margin pipes). */
  private[queries] lazy val hybridFuseCtes: String =
    s"""e0 AS (SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |e AS (SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm FROM e0),
       |sem0 AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${dotQSql("q.qv", "b.qv")} / (q.nrm * b.nrm) AS cosine
       |  FROM e q JOIN e b ON q.vec_id < 5 AND b.vec_id != q.vec_id),
       |semr AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM sem0),
       |u AS (
       |  SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS contrib
       |  FROM lexr WHERE rank <= 20
       |  UNION ALL
       |  SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS contrib
       |  FROM semr WHERE rank <= 20),
       |f AS (
       |  SELECT query_id, neighbor_id, CAST(SUM(contrib) AS BIGINT) AS rrf_fp,
       |    COUNT(*) AS n_lists
       |  FROM u GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf_fp DESC, neighbor_id) AS INTEGER) AS rank,
       |    neighbor_id, rrf_fp, n_lists
       |  FROM f)""".stripMargin

  /** The s_semantic_decon oracle (shared with the configuration-algebra
    * twin hb_semdecon_cfg in HbGates — same split, same threshold):
    * fixed-point quantized cosines vs the 5-vector eval slice, the max,
    * the zero-norm sentinel and the 0.25 threshold replayed per corpus
    * vector. */
  private[queries] lazy val semDeconOracleSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |e AS (SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm FROM e0),
       |ev AS (SELECT qv, nrm FROM e WHERE vec_id >= 495),
       |tr AS (SELECT vec_id, qv, nrm FROM e WHERE vec_id < 495),
       |mx AS (
       |  SELECT t.vec_id,
       |    MAX(CASE WHEN t.nrm > 0 AND v.nrm > 0
       |      THEN CAST(FLOOR(${dotQSql("t.qv", "v.qv")} / (t.nrm * v.nrm) * 1e9) AS BIGINT)
       |      ELSE -1000000000 END) AS max_cos_fp
       |  FROM tr t CROSS JOIN ev v GROUP BY t.vec_id)
       |SELECT vec_id, max_cos_fp, max_cos_fp >= 250000000 AS contaminated
       |FROM mx
       |ORDER BY vec_id ASC NULLS FIRST""".stripMargin

  /** The BM25 lexical-retrieval CTE chain (assumes `tok`/`qt` from
    * [[lexCtes]] are in scope): NON-distinct tokens with per-doc
    * lengths, postings restricted to the query vocabulary (df exact for
    * those terms), the 780-permille stopword cut, and the Okapi
    * k1=1.2/b=0.75 per-term fixed-point contributions summed into the
    * ranked frame `bmr`. Pre-stripped (no margin pipes). */
  private lazy val bm25Ctes: String =
    """tok2 AS MATERIALIZED (
      |  SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM (
      |    SELECT doc_id,
      |      list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS tk
      |    FROM documents)),
      |hits2 AS MATERIALIZED (
      |  SELECT t.doc_id, t.term, t.dl FROM tok2 t JOIN qt USING (term)),
      |st AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(len(list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> ''))) AS DOUBLE) / COUNT(*) AS avgdl
      |  FROM documents),
      |tf2 AS (SELECT doc_id, term, dl, COUNT(*) AS tf FROM hits2 GROUP BY 1, 2, 3),
      |df2 AS (SELECT term, COUNT(*) AS df FROM tf2 GROUP BY term),
      |keep2 AS (SELECT term, df FROM df2 CROSS JOIN st WHERE df * 1000 <= n * 780),
      |sc2 AS (
      |  SELECT q.doc_id AS query_id, f.doc_id AS neighbor_id,
      |    CAST(FLOOR(((st.n - k2.df + 0.5) / (k2.df + 0.5))
      |      * (f.tf * (1.2 + 1) / (f.tf + 1.2 * (1 - 0.75 + 0.75 * f.dl / st.avgdl)))
      |      * 1e9) AS BIGINT) AS term_fp
      |  FROM tf2 f JOIN keep2 k2 USING (term)
      |    JOIN tok q ON q.term = f.term AND q.doc_id < 5 AND q.doc_id <> f.doc_id, st),
      |bm0 AS (SELECT query_id, neighbor_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp FROM sc2 GROUP BY 1, 2),
      |bmr AS (
      |  SELECT query_id, neighbor_id, score_fp,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score_fp DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM bm0)""".stripMargin

  /** Three-list RRF fusion (assumes `lexr` and `bmr` in scope):
    * re-derives the semantic top-20 (the [[hybridFuseCtes]] chain,
    * clash-free names) and fuses all three rankings into `r3`.
    * Pre-stripped (no margin pipes). */
  private lazy val hybridFuse3Ctes: String =
    s"""e3a AS (SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |e3 AS (SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm FROM e3a),
       |sem3a AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${dotQSql("q.qv", "b.qv")} / (q.nrm * b.nrm) AS cosine
       |  FROM e3 q JOIN e3 b ON q.vec_id < 5 AND b.vec_id != q.vec_id),
       |semr3 AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM sem3a),
       |u3 AS (
       |  SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS contrib
       |  FROM lexr WHERE rank <= 20
       |  UNION ALL
       |  SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS contrib
       |  FROM bmr WHERE rank <= 20
       |  UNION ALL
       |  SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS contrib
       |  FROM semr3 WHERE rank <= 20),
       |f3a AS (
       |  SELECT query_id, neighbor_id, CAST(SUM(contrib) AS BIGINT) AS rrf_fp,
       |    COUNT(*) AS n_lists
       |  FROM u3 GROUP BY 1, 2),
       |r3 AS (
       |  SELECT query_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf_fp DESC, neighbor_id) AS INTEGER) AS rank,
       |    neighbor_id, rrf_fp, n_lists
       |  FROM f3a)""".stripMargin

  /** The st_hb_semdecon oracle — [[semDeconOracleSql]]'s arithmetic on
    * the scale-proportional `vec_id % 100 = 7` eval slice. */
  private[queries] lazy val semDeconMod100OracleSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, ${qSql("embedding")} AS qv FROM embeddings),
       |e AS (SELECT vec_id, qv, SQRT(${dotQSql("qv", "qv")}) AS nrm FROM e0),
       |ev AS (SELECT qv, nrm FROM e WHERE vec_id % 100 = 7),
       |tr AS (SELECT vec_id, qv, nrm FROM e WHERE vec_id % 100 != 7),
       |mx AS (
       |  SELECT t.vec_id,
       |    MAX(CASE WHEN t.nrm > 0 AND v.nrm > 0
       |      THEN CAST(FLOOR(${dotQSql("t.qv", "v.qv")} / (t.nrm * v.nrm) * 1e9) AS BIGINT)
       |      ELSE -1000000000 END) AS max_cos_fp
       |  FROM tr t CROSS JOIN ev v GROUP BY t.vec_id)
       |SELECT vec_id, max_cos_fp, max_cos_fp >= 250000000 AS contaminated
       |FROM mx
       |ORDER BY vec_id ASC NULLS FIRST""".stripMargin

  /** Shared lexical-retrieval CTE chain for s_lexical_topk /
    * s_hybrid_rrf: distinct (doc, term) tokens → 5-seed query
    * vocabulary → postings restricted to it → 78%-permille-df stopword cut (the synthetic corpus's vocabulary is dense — at 78% some query terms survive and some are cut, so both paths are exercised) →
    * per-query overlap rank. Pre-stripped (no margin pipes) so it
    * interpolates safely into stripMargin templates. */
  private lazy val lexCtes: String =
    """tok AS MATERIALIZED (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id,
      |      unnest(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS term
      |    FROM documents) WHERE term <> '' GROUP BY doc_id, term),
      |qt AS (SELECT DISTINCT term FROM tok WHERE doc_id < 5),
      |hits AS MATERIALIZED (
      |  SELECT t.doc_id, t.term FROM tok t JOIN qt USING (term)),
      |nd AS (SELECT COUNT(*) AS n FROM documents),
      |dfk AS (
      |  SELECT term FROM hits CROSS JOIN nd
      |  GROUP BY term, n HAVING COUNT(*) * 1000 <= n * 780),
      |lex0 AS (
      |  SELECT q.doc_id AS query_id, h.doc_id AS neighbor_id,
      |    COUNT(*) AS overlap
      |  FROM hits h JOIN dfk USING (term)
      |    JOIN tok q ON q.term = h.term AND q.doc_id < 5
      |      AND q.doc_id <> h.doc_id
      |  GROUP BY 1, 2),
      |lexr AS (
      |  SELECT query_id, neighbor_id, overlap,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY overlap DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM lex0)""".stripMargin
}
