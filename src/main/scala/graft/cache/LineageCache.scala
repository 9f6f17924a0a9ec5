package graft.cache

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Lineage-keyed checkpoint cache — the reference's one systemic
  * optimization, re-expressed.
  *
  * Hobbes caches every stage's output in CouchDB under
  * `sourceHash:trans1:trans2:…` so configurations sharing a chain prefix
  * compute it once (tools/workbench/src/Types.fs:182-190;
  * workers/calculator.worker/src/Program.fs:86-88). There it is mandatory
  * and row-major JSON; here it is opt-in Parquet: Catalyst fuses the whole
  * chain lazily, so checkpointing is a cross-job reuse tool, not a
  * per-stage cost.
  */
final class LineageCache(spark: SparkSession, root: String) {

  Files.createDirectories(Paths.get(root))

  /** Stable key for (source id, statement-chain prefix). Each element is
    * length-prefixed before hashing, so no element's text can fake an
    * element boundary (`["a b"]` vs `["a","b"]`, or embedded separator
    * bytes, must not collide — a cache-key collision is a silent wrong
    * answer). */
  def key(sourceId: String, statements: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (sourceId +: statements).foreach { s =>
      val bytes = s.getBytes("UTF-8")
      md.update(s"${bytes.length}:".getBytes("UTF-8"))
      md.update(bytes)
    }
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  def path(k: String): String = s"$root/$k.parquet"

  def contains(k: String): Boolean =
    Files.exists(Paths.get(path(k), "_SUCCESS"))

  /** Return the cached frame for `k`, or compute, persist and return it. */
  def getOrCompute(k: String)(compute: => DataFrame): DataFrame =
    if (contains(k)) spark.read.parquet(path(k))
    else {
      val df = compute
      df.write.mode("overwrite").parquet(path(k))
      spark.read.parquet(path(k))
    }
}

object LineageCache {

  /** The one path every stored model takes (each family's `fitStored`
    * and the Engine's `… using` statements): `fit` returns the bounded
    * model table, which is saved under `store.key(kind, parts)` when a
    * store is bound (a later session loads it instead of refitting) and
    * collected to its driver-side form. The collected model is memoised
    * in the open [[graft.Scope]] under (kind, key parts, the fit inputs'
    * canonicalized analyzed plans), so statements binding one model fit
    * it once. The plans are in the memo key on purpose: without a store
    * a configuration name promises nothing about its data, and a memo
    * hit on two different frames bound under one name in one scope
    * would be a silent wrong model. */
  def model[M](store: Option[LineageCache], kind: String, parts: Seq[String],
      inputs: DataFrame*)(fit: => DataFrame)(collect: DataFrame => M): M =
    graft.Scope.memo((kind, parts,
        inputs.map(_.queryExecution.analyzed.canonicalized))) {
      collect(store.fold(fit)(lc => lc.getOrCompute(lc.key(kind, parts))(fit)))
    }
}
