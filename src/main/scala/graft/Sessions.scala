package graft

import org.apache.spark.sql.SparkSession

import graft.functions.HoistLiterals

/** Shared SparkSession configuration for the driver entry points
  * (Verify/Bench) and the test suites, so correctness-relevant settings
  * live in exactly one place.
  */
object Sessions {

  /** Builder with the engine's required configs applied.
    *
    * - shuffle.partitions sized to the local core count (not 200).
    * - UTC session time zone for oracle (DuckDB) parity.
    * - ANSI off: the engine relies on wraparound 64-bit arithmetic
    *   (minhash permutations) and hobbes-style lenient cell coercion.
    * - nanosAsLong: the driver-generated `events` table stores
    *   TIMESTAMP(NANOS) which Spark's vectorized reader otherwise
    *   rejects; tables.scala rescales to microseconds on load.
    * - inferTimestampNTZ off: parquet timestamps written without the
    *   isAdjustedToUTC flag (pyarrow `timestamp[us]`) must surface as
    *   TIMESTAMP, not TIMESTAMP_NTZ — watermarks and epoch casts
    *   require the instant type, and with a UTC session zone the two
    *   readings denote the same instant (DuckDB oracle parity holds).
    * - [[graft.functions.HoistLiterals]]: filter and projection
    *   constants leave the generated Java, so a program that differs
    *   from an earlier one only in its literals reuses the compiled
    *   classes.
    * - codegen.cache.maxEntries 4096 (Spark's default is 100): a full
    *   catalogue pass compiles about 2,400 distinct classes, and at 100
    *   entries single gates evicted their own classes mid-run. A static
    *   conf, so it is set here, before the session exists.
    * - `file:` through [[graft.io.LocalFiles]] (`FileSystem`) and
    *   [[graft.io.LocalFilesFs]] (`FileContext`, which Spark's
    *   checkpoint file manager uses): Hadoop's local file system with
    *   `setPermission` and `getFileLinkStatus` done in the JVM instead
    *   of by a `chmod`/`readlink` process each. Other schemes keep
    *   Hadoop's own implementation.
    */
  def builder(master: String, cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFiles].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.LocalFilesFs].getName)
      .withExtensions(_.injectColumnar(_ => HoistLiterals.columnar))

  /** Default worker threads: measured at sf0.1 the per-task overhead of
    * 32 tiny tasks per stage outweighs the parallelism (105 s total vs
    * ~50 s at 4) — small local benches want few fat tasks. Override with
    * SPARK_GRAFT_CPUS for bigger inputs. */
  def local(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietBenignWarnFloods()
    s
  }

  /** Two benign WARN categories flood Verify/Bench stdout (~99% of a
    * full-catalogue run's log volume, measured r15), drowning the one
    * JSON line the driver's truncated log-tail parser needs:
    *
    * - `WindowExec: No Partition Defined` — fired once per task by the
    *   deliberate exact-parity un-keyed windows; those sites are already
    *   self-policed by the `graft.window.warnBytes`/`strict` audit, so
    *   the log4j warning is pure repetition.
    * - `DAGScheduler: Failed to cancel job group` — fired after every
    *   gate because each gate sets-then-clears a job group that has
    *   already finished; a no-op race, not a failure.
    * - `ResolveWriteToStream` — two WARNs per streaming gate (temp
    *   checkpoint location + "AQE not supported in streaming"); 38
    *   st_* gates × reps make this the dominant flood once the first
    *   two are quiet (measured r16: ~90% of the remaining log).
    * - `MicroBatchExecution: Disabling AQE` — same per-gate repetition
    *   for the stateful streams.
    *
    * These loggers drop to ERROR; everything else stays at WARN so real
    * warnings still surface.
    */
  def quietBenignWarnFloods(): Unit =
    try {
      import org.apache.logging.log4j.Level
      import org.apache.logging.log4j.core.config.Configurator
      Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
      Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", Level.ERROR)
      Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        Level.ERROR)
      Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
        Level.ERROR)
    } catch { case _: Throwable => () } // log tuning must never break a run
}
