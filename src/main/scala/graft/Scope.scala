package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one way the engine keeps an intermediate result alive, labels the
  * jobs it launches, or memoises a fit. A scope's lifetime is an OUTPUT
  * ACTION, so the caller that runs the action owns it:
  *
  *   - Verify/Bench open one per gate, the Gateway one per request;
  *     `Engine.run` and `Configurations.Runner` join whichever scope
  *     encloses them ([[open]]).
  *   - An operator puts its internal intermediates (signature frames,
  *     k-means points, word frames) in a [[nested]] scope that closes
  *     when the operator returns.
  *
  * `cache` persists MEMORY_AND_DISK and runs one labelled `count` fill —
  * AQE materialises a plan's independent leaf stages concurrently, and
  * every branch that reaches an UNFILLED cache recomputes the whole
  * upstream chain. Only the call that creates the cache fills it and
  * only the scope that created it releases it: a plan another scope
  * already holds is read, never filled again or unpersisted.
  *
  * `memo` lives in the nearest [[open]]ed scope (a nested operator scope
  * forwards to it: the memoised value is an operator's RESULT, which
  * outlives the operator), so reuse across statements of one action is
  * free and nothing survives the action. With no scope open nothing is
  * cached or memoised — a frame whose consumers outlive the call (the
  * Engine's fit inputs and emit layouts) then simply recomputes.
  *
  * `close()` unpersists what the scope created, dependents first (a
  * released base never forces an unfilled dependant to re-plan), and
  * drops its memos. Thread-safe: the cache registry is one lock, memos a
  * concurrent map, and the current scope travels in an inheritable
  * dynamic variable, so a thread pool created inside a scope (the pqTopK
  * fit futures) registers in its creator's scope. */
final class Scope private (parent: Option[Scope], keepsMemos: Boolean) {

  private val created = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private val memos = new ConcurrentHashMap[Any, Any]()
  @volatile private var closed = false

  def cache(df: DataFrame, what: String): DataFrame = {
    val mine = Scope.synchronized {
      !closed && df.storageLevel == StorageLevel.NONE && {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        created += df
        true
      }
    }
    if (mine) Scope.labeled(what)(df.count())
    df
  }

  def memo[T](key: Any)(compute: => T): T =
    if (!keepsMemos) parent.fold(compute)(_.memo(key)(compute))
    else Option(memos.get(key)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = compute
        if (closed) v
        else Option(memos.putIfAbsent(key, v)).fold(v)(_.asInstanceOf[T])
    }

  def close(): Unit = {
    val mine = Scope.synchronized {
      closed = true
      val out = created.reverse.toList
      created.clear()
      out
    }
    mine.foreach(_.unpersist(blocking = false))
    memos.clear()
  }
}

object Scope {

  private val active = new scala.util.DynamicVariable[Option[Scope]](None)

  private def current: Option[Scope] = active.value

  /** Run `body` in a new scope that owns caches AND memos for the length
    * of one output action; closed when `body` returns. */
  def open[T](body: Scope => T): T =
    within(new Scope(current, keepsMemos = true))(body)

  /** An operator's scope: owns the caches of its internal intermediates,
    * forwards memos to the enclosing [[open]] scope. */
  def nested[T](body: Scope => T): T =
    within(new Scope(current, keepsMemos = false))(body)

  private def within[T](s: Scope)(body: Scope => T): T =
    try active.withValue(Some(s))(body(s)) finally s.close()

  /** [[Scope.cache]] in the current scope; uncached with none open. */
  def cache(df: DataFrame, what: String): DataFrame =
    current.fold(df)(_.cache(df, what))

  /** [[Scope.memo]] in the current scope; computed with none open. */
  def memo[T](key: Any)(compute: => T): T =
    current.fold(compute)(_.memo(key)(compute))

  /** Truncate `df`'s lineage. Checkpoint blocks live outside the cache
    * manager and are reclaimed with the frame, so a checkpoint may be an
    * operator's result and outlive every scope. The lazy form
    * materialises with the frame's first action (Runner's
    * `truncatePlans`). */
  def checkpoint(df: DataFrame, what: String,
      eager: Boolean = true): DataFrame =
    if (eager) labeled(what)(df.localCheckpoint(true))
    else df.localCheckpoint(false)

  /** Label every job `body` launches with `what`, nested under the label
    * already set (e.g. `hb conf:a / dedup: signatures`). */
  def labeled[T](what: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Option(prev).fold(what)(p => s"$p / $what"))
    try body finally sc.setJobDescription(prev)
  }
}
