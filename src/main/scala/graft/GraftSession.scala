package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Central place for the configs every entry point (tests, Verify, Bench,
  * user code) must agree on:
  *   - `spark.sql.legacy.parquet.nanosAsLong`: the `events` table carries
  *     parquet TIMESTAMP(NANOS) which Spark has no native type for; we read
  *     nanos as Long and surface both the exact nanos and a micro-truncated
  *     TimestampType column (see [[Tables.events]]).
  *   - UTC session timezone so timestamp semantics are stable across hosts.
  *   - AQE on: runtime join-strategy switching, partition coalescing and
  *     skew-join handling are the scale story for 100 TB inputs.
  */
object GraftSession {

  def builder(
      appName: String = "graft",
      master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Driver-generated parquet stores naive (isAdjustedToUTC=false)
      // microsecond timestamps; read them as TimestampType in the UTC
      // session rather than TIMESTAMP_NTZ so time arithmetic (unix_micros,
      // windows, watermarks) keeps working and matches the DuckDB oracle.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // plan strings truncate PushedFilters at 100 chars by default, which
      // hides pushed timestamp-range predicates from plan audits
      .config("spark.sql.maxMetadataStringLength", "1000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Checkpoint-file checksums off (r19, measured −30% on the heavier
      // streaming pipelines): Spark 4.1 writes + verifies a sidecar
      // checksum file per checkpoint/state file, DOUBLING the per-commit
      // file creations; per-batch state here is tiny, so the fixed cost
      // dominates. Corruption detection is a durability knob for
      // unreliable stores — re-enable per deployment via $SPARK_GRAFT_CONF
      // ("spark.sql.streaming.checkpoint.fileChecksum.enabled=true").
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Deployment-dependent overrides (r19, guide §9): semicolon-separated
      // `key=value` pairs from $SPARK_GRAFT_CONF, applied last so a cluster
      // deployment (or an A/B measurement) can re-tune any scale-dependent
      // setting without a rebuild. Local defaults above stay the bench
      // contract.
      .config(
        sys.env.get("SPARK_GRAFT_CONF").toSeq
          .flatMap(_.split(";"))
          .map(_.trim).filter(_.contains("="))
          .map { kv =>
            val i = kv.indexOf('=')
            kv.take(i).trim -> kv.drop(i + 1).trim
          }.toMap)

  /** State-store partition count for STREAMING queries (r19, guide §2.2).
    *
    * A streaming query pins its shuffle/state partition count from
    * `spark.sql.shuffle.partitions` at first start (offset-log metadata).
    * Micro-batch state here is KBs-MBs per query, but every batch pays a
    * per-partition fixed cost: a state-store delta file write + commit
    * per partition per stateful operator. At the session default (32)
    * that fixed cost dominated every streaming pipeline's addBatch time
    * (profiled via QueryProfile); 8 partitions cut the measured streaming
    * queries 30-40% with no loss (the stateful stages are I/O-fixed-cost
    * bound, not compute bound). Batch queries keep the session default —
    * this value applies ONLY through [[withStreamPartitions]] scopes.
    *
    * Scale story: state partitions size to STATE VOLUME and key
    * cardinality, not to core count — the reference separates operator
    * parallelism from key-group count the same way. Production deployments
    * override via `SPARK_GRAFT_STREAM_PARTITIONS` (e.g. hundreds for
    * multi-GB state); the local default keeps the driver's bench
    * comparable across its core-count runs (constant, not derived from
    * the core count). */
  def streamShufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").map(_.toInt).getOrElse(8)

  /** Run `start` (a streaming-query `.start()` call) with
    * `spark.sql.shuffle.partitions` scoped to [[streamShufflePartitions]].
    *
    * Race-freedom: `StreamExecution` clones the session (and so the conf)
    * in its CONSTRUCTOR, which executes synchronously inside
    * `DataStreamWriter.start()` — by the time this method restores the
    * session value, the query holds its own pinned copy, and the batch
    * `DataFrame`s passed to `foreachBatch` run on that clone too (so the
    * per-batch MERGE jobs inherit the streaming value, as intended). The
    * session-global set/restore is visible to other threads only for the
    * duration of the `start()` call itself; the engine's entry points
    * start queries from the calling thread, never concurrently with a
    * batch plan compile on the same session. */
  def withStreamPartitions[T](spark: SparkSession)(start: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, streamShufflePartitions.toString)
    try start finally spark.conf.set(key, prev)
  }

  /** `.startScoped(spark)` — a `DataStreamWriter.start()` under
    * [[withStreamPartitions]]; the engine's streaming sinks start through
    * this so their state-store partition count is the streaming value. */
  implicit class ScopedStart[T](
      private val w: org.apache.spark.sql.streaming.DataStreamWriter[T]) {
    def startScoped(spark: SparkSession)
        : org.apache.spark.sql.streaming.StreamingQuery =
      withStreamPartitions(spark)(w.start())
  }

  /** Build (or reuse) a session and register all graft SQL functions. */
  def get(
      appName: String = "graft",
      master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(appName, master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietBenignShutdownWarnings
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }

  /** Spark's own StreamExecution.stop() cancels the query's job group
    * even when the query is idle between triggers, and the DAGScheduler
    * then WARNs "Failed to cancel job group … Cannot find active jobs" —
    * twice per graceful stop, spamming every bench/verify tail (VERDICT
    * r12 task 8). Filter exactly that message (and nothing else) off the
    * DAGScheduler logger; real scheduler warnings still surface. Lazy
    * Unit: the filter installs exactly ONCE per JVM — re-running per
    * get() would stack duplicate filters on the logger config. */
  private lazy val quietBenignShutdownWarnings: Unit = {
      try {
        import org.apache.logging.log4j.{Level, LogManager}
        import org.apache.logging.log4j.core.LoggerContext
        import org.apache.logging.log4j.core.config.LoggerConfig
        import org.apache.logging.log4j.core.filter.RegexFilter
        val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
        val conf = ctx.getConfiguration
        val name = "org.apache.spark.scheduler.DAGScheduler"
        val filter = RegexFilter.createFilter(
          ".*Failed to cancel job group.*", null, false,
          org.apache.logging.log4j.core.Filter.Result.DENY,
          org.apache.logging.log4j.core.Filter.Result.NEUTRAL)
        conf.getLoggerConfig(name) match {
          case lc if lc.getName == name => lc.addFilter(filter)
          case _ =>
            val lc = new LoggerConfig(name, Level.WARN, true)
            lc.addFilter(filter)
            conf.addLogger(name, lc)
        }
        ctx.updateLoggers()
      } catch { case _: Throwable => () } // logging backend absent: no-op
  }
}
