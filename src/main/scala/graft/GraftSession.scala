package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileStatusWithMetadata, InMemoryFileIndex}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.types.StructType

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
      .config(parseConf(sys.env.get("SPARK_GRAFT_CONF")))

  /** `$SPARK_GRAFT_CONF`: semicolon-separated `key=value` pairs (empty
    * entries skipped). An entry that is not `key=value` fails naming the
    * variable. */
  private[graft] def parseConf(raw: Option[String]): Map[String, String] =
    raw.toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF: entry '$kv' is not key=value")
      kv.take(i).trim -> kv.drop(i + 1).trim
    }.toMap

  /** `$SPARK_GRAFT_STREAM_PARTITIONS`: an explicit partition count for
    * every new streaming query, else None, which means the count follows
    * the query's first batch ([[statePartitions]]). A value that is not a
    * positive integer fails naming the variable. */
  private[graft] def parseStreamPartitions(raw: Option[String]): Option[Int] =
    raw.map(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException("SPARK_GRAFT_STREAM_PARTITIONS " +
        s"must be a positive integer, got '$v'")))

  /** Shuffle and state-store partition count for a new streaming query
    * over `df`: `$SPARK_GRAFT_STREAM_PARTITIONS` when set, else
    * [[statePartitions]] of the files its sources hold now.
    *
    * The count is pinned in the query's offset log at first start, and
    * AQE never coalesces a stateful shuffle, so the engine chooses it
    * once. Every micro-batch pays a fixed cost per state partition (a
    * delta-file write and commit per stateful operator), so KBs of state
    * in many partitions is coordination, not compute. The count is
    * Spark's file-scan partition count for the files present at start,
    * and that count uses the default parallelism: past `cores` ×
    * `openCostInBytes` of input it is about the core count of the
    * machine where the query first starts, and a checkpoint keeps that
    * machine's count wherever it restarts.
    *
    * A query whose sources hold no files at start (a datagen/rate
    * stream, or a directory filled only after the query starts) gets 1,
    * and keeps 1 for the life of its checkpoint however much state it
    * later builds; set the variable, or start on a new checkpoint, to
    * change it. */
  def streamPartitions(df: DataFrame): Int =
    parseStreamPartitions(sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS"))
      .getOrElse(statePartitions(df.sparkSession, sourceFiles(df)))

  /** As many partitions as Spark's own file scan plans for `files`: split
    * at `FilePartition.maxSplitBytes` and packed by `getFilePartitions`
    * (`spark.sql.files.maxPartitionBytes`, `openCostInBytes` and the
    * default parallelism), at least 1. */
  private[graft] def statePartitions(
      spark: SparkSession, files: Seq[FileStatus]): Int = {
    val open = spark.sessionState.conf.filesOpenCostInBytes
    val split = FilePartition.maxSplitBytes(spark,
      files.map(_.getLen + open).sum)
    val pieces = files.flatMap(f => PartitionedFileUtil.splitFiles(
      FileStatusWithMetadata(f), f.getPath, isSplitable = true, split,
      InternalRow.empty))
    FilePartition.getFilePartitions(spark, pieces, split).size max 1
  }

  /** The files a new query over `df` reads in its first batch: every file
    * its file sources list now, as `FileStreamSource` lists them. Other
    * sources (rate, memory streams) hold no files. */
  private def sourceFiles(df: DataFrame): Seq[FileStatus] = {
    val spark = df.sparkSession
    df.queryExecution.logical.collect {
      case StreamingRelation(ds, _, _)
          if classOf[FileFormat].isAssignableFrom(ds.providingClass) =>
        val conf = spark.sessionState.newHadoopConfWithOptions(ds.options)
        val roots = CaseInsensitiveMap(ds.options).get("path").toSeq
          .map(new Path(_)).flatMap { p =>
            val fs = p.getFileSystem(conf)
            Option(fs.globStatus(fs.makeQualified(p))).toSeq.flatten
          }.map(_.getPath)
        new InMemoryFileIndex(spark, roots, ds.options, Some(new StructType))
          .allFiles()
    }.flatten
  }

  /** Run `start` (a `DataStreamWriter.start()` of a query over `df`) with
    * the session's `spark.sql.shuffle.partitions` set to
    * [[streamPartitions]] of `df`, and restore it after.
    *
    * `StreamExecution` clones the session, and so its conf, in its
    * constructor, which runs inside `start()`; the query keeps its own
    * copy, and the `foreachBatch` MERGE jobs run on that clone too. A
    * per-session lock spans set, `start()` and restore, so two threads
    * starting queries on one session each pin their own count and the
    * session value comes back. Other work on the session sees the
    * streaming value for the length of a `start()` call. */
  def withStreamPartitions[T](df: DataFrame)(start: => T): T = {
    val spark = df.sparkSession
    val n = streamPartitions(df).toString
    startLock(spark).synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, n)
      try start finally spark.conf.set(key, prev)
    }
  }

  private val startLocks = new java.util.WeakHashMap[SparkSession, AnyRef]

  private def startLock(spark: SparkSession): AnyRef =
    startLocks.synchronized(startLocks.computeIfAbsent(spark, _ => new AnyRef))

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
