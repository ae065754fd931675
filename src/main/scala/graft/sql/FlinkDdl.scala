package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Flink-SQL DDL + DML script runner — the front half of a migrating user's
  * script that [[FlinkSql]] (queries only) could not parse: `CREATE TABLE`
  * with physical/computed columns, `WATERMARK FOR … AS …`, `PRIMARY KEY …
  * NOT ENFORCED`, `PARTITIONED BY (…)` and a `WITH ('connector'=…)`
  * clause; `CREATE TABLE … AS SELECT` (CTAS, authored immediately);
  * `CREATE TABLE … LIKE base (merge clauses)`; `CREATE [TEMPORARY] VIEW`;
  * `INSERT INTO | OVERWRITE`; `EXECUTE STATEMENT SET BEGIN …; …; END`;
  * `SET 'k'='v'`; and trailing queries.
  *
  * Reference surface: flink-sql-parser/…/ddl/table/SqlCreateTable.java:57
  * (column list, computed columns, watermark, constraint, WITH options),
  * …/ddl/SqlWatermark.java (WATERMARK FOR rowtime AS expr), statement sets
  * …/api/internal/StatementSetImpl.java:42.
  *
  * Spark-first mapping — a registered table is a *recipe*, not data:
  *  - `'connector'='filesystem'` → `spark.read.format(fmt).load(path)` at
  *    statement-execution time (so an INSERT earlier in the script is
  *    visible to a later SELECT). Filters/pruning push into the scan
  *    exactly as any other Spark source — DDL adds no materialization.
  *  - `'connector'='datagen'` → `spark.range` + deterministic column
  *    generators (sequence / md5-hash "random": reproducible across
  *    partitionings, unlike a true RNG).
  *  - computed columns are Spark SQL expressions (`expr(...)`), evaluated
  *    after the physical read; Flink's `TO_TIMESTAMP_LTZ(x, p)` spelling is
  *    rewritten to the Spark equivalent.
  *  - `WATERMARK FOR c AS c - INTERVAL '...' u` is recorded on the table
  *    and applied as `withWatermark` whenever the table is read as a
  *    stream ([[streamingSource]]); batch reads carry it as metadata only
  *    (same as the reference's batch planner, which ignores watermarks).
  *  - `INSERT INTO` appends / `INSERT OVERWRITE` replaces through the
  *    normal Spark writer (partitioned parquet/csv/json/orc), after
  *    aligning and casting the select output to the sink's declared
  *    schema. A statement set runs its inserts in order — each one is an
  *    independent Spark job, which on a cluster is the same resource
  *    envelope as the reference's merged DAG for non-overlapping sinks.
  *
  * The query halves of INSERT/SELECT statements run through
  * [[FlinkSql.sql]], so every Flink FROM-item shape (window TVFs,
  * MATCH_RECOGNIZE, temporal joins, ML_PREDICT, VECTOR_SEARCH) works
  * inside a DDL script.
  */
object FlinkDdl {

  // ------------------------------------------------------------- catalog

  /** `WATERMARK FOR col AS col - INTERVAL '<n>' <unit>` (or bare `col`:
    * zero delay). `delay` is a Spark interval string ("5 seconds"). */
  final case class WatermarkSpec(col: String, delay: String)

  final case class ColumnSpec(
      name: String,
      dataType: Option[DataType], // physical column
      computedExpr: Option[String], // computed column (Spark SQL text)
      isMetadata: Boolean = false,
      metadataKey: Option[String] = None) // METADATA [FROM 'key']

  final case class TableSpec(
      name: String,
      columns: Seq[ColumnSpec],
      watermark: Option[WatermarkSpec],
      primaryKey: Seq[String],
      options: Map[String, String],
      temporary: Boolean) {
    def connector: String = options.getOrElse("connector",
      throw new IllegalArgumentException(
        s"table $name has no 'connector' option"))
    def format: String = options.getOrElse("format", "parquet")
    def path: String = options.getOrElse("path",
      throw new IllegalArgumentException(
        s"filesystem table $name needs a 'path' option"))
  }

  /** Result of a script run: the catalog it built plus the value of the
    * last query statement (or, if the script ends on an INSERT, the sink
    * read back). */
  final class ScriptResult(
      val catalog: Map[String, TableSpec],
      val lastQuery: Option[DataFrame],
      val lastSink: Option[String],
      private val spark: SparkSession,
      val models: Map[String, graft.ml.ModelSpec] = Map.empty) {
    def dataFrame: DataFrame = lastQuery.getOrElse {
      val sink = lastSink.getOrElse(throw new IllegalStateException(
        "script had no query and no INSERT — nothing to return"))
      sourceDf(spark, catalog(sink))
    }
  }

  /** Run a multi-statement Flink SQL script; returns the last SELECT's
    * DataFrame (or the final sink read back). `extra` tables are visible
    * under their map names, as in [[FlinkSql.sql]]. */
  def run(
      spark: SparkSession,
      script: String,
      extra: Map[String, DataFrame] = Map.empty,
      models: Map[String, graft.ml.ModelProvider] = Map.empty,
      procedures: Map[String, Procedure] = Procedures.builtin): DataFrame =
    runScript(spark, script, extra, models, procedures).dataFrame

  /** As [[run]] but returning the full [[ScriptResult]] (catalog + result),
    * for callers that need the table specs (e.g. watermark assertions). */
  def runScript(
      spark: SparkSession,
      script: String,
      extra: Map[String, DataFrame] = Map.empty,
      models: Map[String, graft.ml.ModelProvider] = Map.empty,
      procedures: Map[String, Procedure] = Procedures.builtin): ScriptResult = {
    val catalog = scala.collection.mutable.LinkedHashMap.empty[String, TableSpec]
    val modelCatalog =
      scala.collection.mutable.LinkedHashMap.empty[String, graft.ml.ModelSpec]
    var lastQuery: Option[DataFrame] = None
    var lastSink: Option[String] = None

    // a registered but not-yet-written sink (empty path) cannot be read;
    // it simply isn't visible to queries until an INSERT creates it.
    // Per-RUN source cache: tables() is called per statement, and a fresh
    // spark.read per table per statement pays file listing + footer schema
    // resolution every time (the q_sql_ddl_pipeline fixed cost). Keyed by
    // (name, spec) so a catalog REPLACE misses naturally; entries for
    // tables this script WRITES are invalidated at the write site so a
    // later statement sees the new files. A failed open (not-yet-written
    // sink) is not cached — the next statement retries.
    val srcCache =
      scala.collection.mutable.Map.empty[(String, TableSpec), DataFrame]
    def invalidateSource(name: String): Unit =
      srcCache.filterInPlace { case ((n, _), _) => n != name }
    def tables(): Map[String, DataFrame] =
      extra ++ catalog.iterator.flatMap { case (n, spec) =>
        if (spec.connector == "print" || spec.connector == "blackhole") None
        else scala.util.Try(
          n -> srcCache.getOrElseUpdate((n, spec), sourceDf(spark, spec))
        ).toOption
      }

    // DDL-declared models join the caller's map as unbound specs;
    // ML_PREDICT binds them to its DESCRIPTOR column(s)
    def allModels(): Map[String, graft.ml.ModelProvider] =
      models ++ modelCatalog.iterator.map { case (n, s) =>
        n -> new graft.ml.UnboundModel(s) }

    def runInsert(stmtText: String): Unit = {
      val (sink, query, overwrite, static) = splitInsert(stmtText)
      val spec = catalog.getOrElse(sink, throw new IllegalArgumentException(
        s"INSERT into unknown table $sink; known: ${catalog.keys.mkString(", ")}"))
      val result = withStaticPartition(spec,
        FlinkSql.sql(spark, query, tables(), allModels()), static)
      if (overwrite && static.nonEmpty) {
        // static-partition OVERWRITE replaces only the matching
        // partitions — dynamic partition overwrite, like MT REFRESH
        val prev = spark.conf.getOption(
          "spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try writeSink(spark, spec, result, overwrite = true)
        finally prev match {
          case Some(v) => spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset(
            "spark.sql.sources.partitionOverwriteMode")
        }
      } else writeSink(spark, spec, result, overwrite)
      invalidateSource(sink) // later statements must see the new files
      lastSink = Some(sink)
      lastQuery = None
    }

    runStatements(spark, script, catalog, modelCatalog, tables, allModels,
      procedures = procedures,
      onInsert = runInsert,
      onCtas = (spec, q) => {
        // CTAS authors the table NOW (reference: CreateTableAsUtil): run
        // the query, derive the declared schema from its result, write
        // through the normal sink path
        val result = FlinkSql.sql(spark, q, tables(), allModels())
        val derived = spec.copy(columns = result.schema.fields.toSeq
          .map(f => ColumnSpec(f.name, Some(f.dataType), None)))
        catalog(derived.name) = derived
        writeSink(spark, derived, result, overwrite = true)
        lastSink = Some(derived.name)
        lastQuery = None
      },
      onQuery = stmt => {
        lastQuery = Some(FlinkSql.sql(spark, stmt, tables(), allModels()))
      },
      onResult = df => { lastQuery = Some(df); lastSink = None },
      onMutate = stmt => {
        executeRowLevel(spark, catalog, stmt)
        srcCache.clear() // row-level write: any cached read may be stale
      },
      onMaterialized = (spec, query) => {
        materializeFull(spark, spec, query, tables, allModels, catalog)
        invalidateSource(spec.name)
        lastSink = Some(spec.name); lastQuery = None
      },
      onMtAlter = (name, action) => {
        def spec = catalog.get(name)
          .filter(_.options.contains(MtQueryOpt))
          .getOrElse(throw new IllegalArgumentException(
            s"$name is not a materialized table"))
        action match {
          case MtRefresh(partition) =>
            refreshMaterialized(spark, spec, partition, tables, allModels)
            invalidateSource(name)
            lastSink = Some(name); lastQuery = None
          case MtSuspend =>
            catalog(name) = spec.copy(options =
              spec.options + (MtStatusOpt -> "suspended"))
          case MtResume =>
            // resuming a FULL-mode table re-materializes (the reference
            // resumes the refresh workflow, whose first run catches up)
            catalog(name) = spec.copy(options =
              spec.options + (MtStatusOpt -> "active"))
            refreshMaterialized(spark, catalog(name), Map.empty,
              tables, allModels)
            invalidateSource(name)
          case MtAsQuery(q) =>
            // modify the query definition, then refresh under it
            materializeFull(spark,
              spec.copy(options = spec.options + (MtQueryOpt -> q)), q,
              tables, allModels, catalog)
            invalidateSource(name)
          case MtDrop => () // dispatcher removes the catalog entry
        }
      })
    new ScriptResult(catalog.toMap, lastQuery, lastSink, spark,
      modelCatalog.toMap)
  }

  /** Author (or re-author) a materialized table: run the defining query,
    * shape it onto the declared schema, derive the stored column specs,
    * and overwrite the managed storage (CreateTableAsUtil-style). */
  private def materializeFull(
      spark: SparkSession,
      spec: TableSpec,
      query: String,
      tables: () => Map[String, DataFrame],
      models: () => Map[String, graft.ml.ModelProvider],
      catalog: scala.collection.mutable.LinkedHashMap[String, TableSpec])
      : Unit = {
    val result = FlinkSql.sql(spark, query, tables(), models())
    val shaped = shapeToDeclared(spec, result)
    val derived = spec.copy(columns = shaped.schema.fields.toSeq
      .map(f => ColumnSpec(f.name, Some(f.dataType), None)))
    catalog(derived.name) = derived
    writeSink(spark, derived, shaped, overwrite = true)
  }

  /** `ALTER MATERIALIZED TABLE t REFRESH [PARTITION (k=v,…)]`: re-run the
    * defining query; a PARTITION spec narrows the recompute to matching
    * rows and swaps only those partitions in (dynamic partition
    * overwrite — the reference's partition-scoped refresh). */
  private def refreshMaterialized(
      spark: SparkSession,
      spec: TableSpec,
      partition: Map[String, String],
      tables: () => Map[String, DataFrame],
      models: () => Map[String, graft.ml.ModelProvider]): Unit = {
    val result = FlinkSql.sql(spark, spec.options(MtQueryOpt),
      tables(), models())
    val shaped = shapeToDeclared(spec, result)
    if (partition.isEmpty) writeSink(spark, spec, shaped, overwrite = true)
    else {
      val keys = spec.options.getOrElse("partition-keys",
        throw new IllegalArgumentException(
          s"REFRESH PARTITION on ${spec.name}, which is not partitioned"))
        .split(",").map(_.trim).toSet
      partition.keys.foreach(k => require(keys.contains(k),
        s"$k is not a partition column of ${spec.name} ($keys)"))
      val filtered = partition.foldLeft(shaped) { case (df, (k, v)) =>
        df.where(col(k).cast(StringType) === lit(v))
      }
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try writeSink(spark, spec, filtered, overwrite = true)
      finally prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** Execute a script in STREAMING mode — the reference's default
    * execution mode for a SQL script (EnvironmentSettings.inStreamingMode;
    * [[run]]/[[runScript]] are the inBatchMode face): every filesystem
    * source reads as a stream with its declared watermark applied, and
    * every `INSERT INTO` starts a CONTINUOUS query writing to its sink.
    * Returns the started queries in statement order — the caller owns
    * their lifecycle (the reference returns a TableResult per insert /
    * statement set the same way).
    *
    * Sink checkpointing: the sink table's `'sink.checkpoint-dir'` option,
    * or a fresh temp dir when absent. Trailing SELECT statements are
    * built (they must parse and resolve) but not executed — attach them
    * via [[streamingSource]] + your own writeStream instead. Streaming
    * CTAS is rejected, as in the reference's streaming CTAS w/o
    * exactly-once sink support. INSERT queries must be append-capable
    * under Spark semantics (projections, filters, stream-stream/static
    * joins, dedup); windowed aggregations stream through the
    * [[graft.streaming.StreamingWindows]] DSL face.
    */
  def runStreaming(
      spark: SparkSession,
      script: String,
      extra: Map[String, DataFrame] = Map.empty,
      models: Map[String, graft.ml.ModelProvider] = Map.empty)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val catalog = scala.collection.mutable.LinkedHashMap.empty[String, TableSpec]
    val modelCatalog =
      scala.collection.mutable.LinkedHashMap.empty[String, graft.ml.ModelSpec]
    val started = scala.collection.mutable
      .ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQuery]
    // job id → (job name, query, checkpoint dir) for SHOW JOBS /
    // STOP JOB [WITH SAVEPOINT] (the reference's cluster job surface
    // mapped onto the session's live StreamingQuery set)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[
      String,
      (String, org.apache.spark.sql.streaming.StreamingQuery, String)]
    def registerJob(
        name: String,
        qc: (org.apache.spark.sql.streaming.StreamingQuery, String)): Unit = {
      started += qc._1
      jobs(qc._1.id.toString) = (name, qc._1, qc._2)
    }

    def tables(): Map[String, DataFrame] =
      extra ++ catalog.iterator.flatMap { case (n, spec) =>
        if (spec.connector == "filesystem" || spec.connector == "datagen")
          scala.util.Try(n -> streamingSource(spark, spec)).toOption
        else None
      }

    def allModels(): Map[String, graft.ml.ModelProvider] =
      models ++ modelCatalog.iterator.map { case (n, s) =>
        n -> new graft.ml.UnboundModel(s) }

    def startInsert(stmtText: String): Unit = {
      val (sink, query, overwrite, static) = splitInsert(stmtText)
      require(!overwrite, "INSERT OVERWRITE is a batch-mode statement; " +
        "streaming inserts append")
      val spec = catalog.getOrElse(sink, throw new IllegalArgumentException(
        s"INSERT into unknown table $sink; known: ${catalog.keys.mkString(", ")}"))
      // the streaming rank/Top-N tier: window functions stream in no
      // Spark output mode, so the ROW_NUMBER idiom is split at the rank
      // boundary instead ([[StreamingRank]]) — only attempted when the
      // statement is otherwise unrunnable (either the compiled plan has
      // no legal output mode, or FlinkSql's own shape checks rejected the
      // rank/dedup pattern on a stream), so every supported plan keeps
      // its normal route
      // compile ONCE — the CDC probe and the normal route share it (a
      // failed compile re-raises inside normalRoute, preserving the rank
      // fallback semantics below)
      lazy val compiled = FlinkSql.sql(spark, query, tables(), allModels())
      // CDC-format source tier (VERDICT r17 task 2): a query reading a
      // decoded changelog carries retractions no insert-only streaming
      // operator can consume — route to the signed-aggregation /
      // passthrough MERGE tiers ([[StreamingCdc.start]]). Detection is on
      // the compiled plan (the hidden __sign attribute), not table-name
      // text matching.
      if (static.isEmpty &&
          catalog.values.exists(s => StreamingCdc.isCdcFormat(s.format))) {
        scala.util.Try(compiled).toOption
          .filter(_.isStreaming).filter(StreamingCdc.referencesCdc)
          .foreach { df =>
            registerJob(s"insert-into_$sink",
              StreamingCdc.start(spark, spec, df, catalog.values.toSeq))
            return
          }
      }
      var rankTried = false
      def normalRoute() = {
        val result = withStaticPartition(spec, compiled, static)
        if (result.isStreaming && static.isEmpty && noLegalMode(result)) {
          rankTried = true
          startRankSink(spark, spec, query, tables(), allModels())
            .orElse(startOverSink(spark, spec, query, tables(), allModels()))
            .getOrElse(startStreamSink(spec, alignToSink(spec, result)))
        } else startStreamSink(spec, alignToSink(spec, result))
      }
      val qc =
        try normalRoute()
        catch {
          // NonFatal only (ADVICE r17: a Throwable catch swallowed OOM /
          // interrupts into a second planning pass), and never when
          // normalRoute itself already attempted the rank split
          case scala.util.control.NonFatal(e)
              if static.isEmpty && !rankTried =>
            startRankSink(spark, spec, query, tables(), allModels())
              .orElse(
                startOverSink(spark, spec, query, tables(), allModels()))
              .getOrElse(throw e)
        }
      registerJob(s"insert-into_$sink", qc)
    }

    // continuous materialized tables: name → live refresh job, so
    // SUSPEND/RESUME/DROP can manage its lifecycle (the reference's
    // continuous-mode refresh job on the table)
    val mtJobs = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.streaming.StreamingQuery]

    def startMaterialized(spec: TableSpec): Unit = {
      val result = FlinkSql.sql(spark, spec.options(MtQueryOpt),
        tables(), allModels())
      val qc = startStreamSink(spec, alignToSink(spec,
        shapeToDeclared(spec, result)))
      mtJobs(spec.name) = qc._1
      registerJob(s"materialized_${spec.name}", qc)
    }

    runStatements(spark, script, catalog, modelCatalog, tables, allModels,
      onInsert = startInsert,
      onCtas = (spec, _) => throw new IllegalArgumentException(
        s"CREATE TABLE ${spec.name} AS SELECT is not supported in " +
          "streaming mode — declare the sink and INSERT INTO it"),
      onQuery = stmt => { FlinkSql.sql(spark, stmt, tables(), allModels()); () },
      onResult = _ => (),
      onMutate = stmt => throw new IllegalArgumentException(
        s"row-level statement is batch-mode only: ${stmt.take(40)}…"),
      onMaterialized = (spec, _) => {
        // in the streaming runner every materialized table refreshes
        // continuously — FULL mode's scheduled batch runs are the batch
        // runner's job ([[runScript]] + ALTER … REFRESH). Pin a stable
        // checkpoint dir so SUSPEND → RESUME continues, not restarts.
        val stored = spec.copy(options = spec.options +
          (MtModeOpt -> "continuous") +
          ("sink.checkpoint-dir" -> StreamSink.checkpointDir(spec)))
        catalog(stored.name) = stored
        startMaterialized(stored)
      },
      onMtAlter = (name, action) => {
        def spec = catalog.get(name)
          .filter(_.options.contains(MtQueryOpt))
          .getOrElse(throw new IllegalArgumentException(
            s"$name is not a materialized table"))
        action match {
          case MtSuspend =>
            mtJobs.remove(name).foreach(_.stop())
            catalog(name) = spec.copy(options =
              spec.options + (MtStatusOpt -> "suspended"))
          case MtResume =>
            val s = spec.copy(options =
              spec.options + (MtStatusOpt -> "active"))
            catalog(name) = s
            if (!mtJobs.contains(name)) startMaterialized(s)
          case MtDrop => mtJobs.remove(name).foreach(_.stop())
          case MtRefresh(_) => throw new IllegalArgumentException(
            "ALTER MATERIALIZED TABLE … REFRESH is a batch (FULL-mode) " +
              "statement; the continuous job refreshes on its own")
          case MtAsQuery(_) => throw new IllegalArgumentException(
            "ALTER MATERIALIZED TABLE … AS is batch-mode only here — " +
              "SUSPEND, redefine, and RESUME instead")
        }
      },
      // the reference addresses jobs by cluster job id; script-side the
      // stable handle is the job NAME (ids are generated), so both match
      onStopJob = (id, savepoint, drain) => {
        val found = jobs.get(id)
          .orElse(jobs.values.find(_._1 == id).map(v => ("", v._2, v._3)))
        found match {
          case Some((_, q, ckpt)) =>
            // WITH DRAIN: flush everything already available before the
            // stop (the reference's drain = process remaining records)
            if (drain) scala.util.Try(q.processAllAvailable())
            q.stop()
            q.awaitTermination(30000)
            if (savepoint) {
              // WITH SAVEPOINT: snapshot the (now-quiescent) checkpoint
              // to the configured savepoint dir — a Structured Streaming
              // checkpoint IS the restorable savepoint artifact; resume =
              // start a query on the copied location
              val baseDir = spark.conf.getOption(
                "spark.graft.flink.execution.checkpointing.savepoint-dir")
                .getOrElse(java.nio.file.Files
                  .createTempDirectory("graft_savepoints_").toString)
              val dst = java.nio.file.Paths.get(baseDir,
                s"savepoint-${q.id.toString.take(8)}")
              copyTree(java.nio.file.Paths.get(ckpt), dst)
              Some(dst.toString)
            } else None
          case None => throw new IllegalArgumentException(
            s"STOP JOB '$id': unknown job; running: " +
              jobs.map { case (i, (n, _, _)) => s"$i ($n)" }.mkString(", "))
        }
      },
      onListJobs = () => jobs.iterator.map { case (id, (name, q, _)) =>
        Seq[Any](id, name, if (q.isActive) "RUNNING" else "FINISHED")
      }.toSeq)
    started.toSeq
  }

  /** Batch row-level statements over filesystem tables — the reference's
    * SupportsRowLevelUpdate / SupportsRowLevelDelete sink abilities plus
    * TRUNCATE TABLE (Flink 1.17/1.18 batch DML), re-expressed for plain
    * parquet/csv/json directories:
    *  - `DELETE FROM t WHERE cond` — when the table is PARTITIONED and
    *    `cond` references only partition columns, matching partition
    *    directories are DROPPED outright (metadata-scale, no rewrite);
    *    otherwise kept rows are rewritten to a temp dir that atomically
    *    swaps in (write I/O proportional to the table, as for any
    *    rewriting row-level sink on a non-transactional format).
    *  - `UPDATE t SET c = e[, …] [WHERE cond]` — rewrite-and-swap of one
    *    projection that reads every assignment and `cond` off the old row
    *    ([[graft.changelog.RowLevelOps.assign]]).
    *  - `TRUNCATE TABLE t` — removes the table's files.
    * A hash-bucketed upsert store (the default layout of a PK sink) takes
    * [[graft.changelog.RowLevelOps]] instead: touched buckets rewrite in
    * place, so the store keeps the layout its streaming MERGE writes.
    */
  private def executeRowLevel(
      spark: SparkSession,
      catalog: scala.collection.mutable.LinkedHashMap[String, TableSpec],
      stmt: String): Unit = {
    val toks = FlinkSql.tokenize(stmt)
    val p = new FlinkSql.P(toks, stmt)
    def spec(name: String): TableSpec = {
      val s = catalog.getOrElse(name, throw new IllegalArgumentException(
        s"row-level statement on unknown table $name; known: " +
          catalog.keys.mkString(", ")))
      require(s.connector == "filesystem",
        s"row-level statements need a filesystem table, not ${s.connector}")
      s
    }
    def restFrom(i: Int): String = stmt.substring(toks(i).start)

    toks.head.up match {
      case "TRUNCATE" =>
        p.eat("TRUNCATE"); p.eat("TABLE")
        graft.changelog.FsOps.deleteRecursive(spark, spec(p.ident()).path)

      case "DELETE" =>
        p.eat("DELETE"); p.eat("FROM")
        val s = spec(p.ident())
        if (!p.opt("WHERE")) {
          graft.changelog.FsOps.deleteRecursive(spark, s.path)
          return
        }
        val condText = rewriteExpr(restFrom(p.i))
        if (graft.changelog.UpsertSink.isBucketed(spark, s.path)) {
          graft.changelog.RowLevelOps.delete(spark, s.path, expr(condText))
          return
        }
        val partKeys = s.options.get("partition-keys")
          .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
        val condRefs = spark.sessionState.sqlParser
          .parseExpression(condText).references.map(_.name).toSeq
        if (partKeys.nonEmpty &&
            condRefs.forall(r => partKeys.exists(_.equalsIgnoreCase(r)))) {
          // partition-drop fast path: list matching partition tuples from
          // the partition columns only (metadata-scale), drop their dirs
          spark.read.format(s.format).load(s.path)
            .select(partKeys.map(col): _*).distinct()
            .where(expr(condText))
            .collect().foreach { r =>
              val rel = partKeys.zipWithIndex.map { case (k, i) =>
                s"$k=${String.valueOf(r.get(i))}" }.mkString("/")
              graft.changelog.FsOps
                .deleteRecursive(spark, s"${s.path}/$rel")
            }
        } else rewriteSwap(spark, s,
          _.where(!coalesce(expr(condText), lit(false))))

      case "UPDATE" =>
        p.eat("UPDATE")
        val s = spec(p.ident())
        p.eat("SET")
        // assignments: ident = <expr text up to top-level ',' or WHERE>
        val assigns = Map.newBuilder[String, Column]
        var more = true
        while (more) {
          val c = p.ident()
          p.eat("=")
          val from = p.toks(p.i).start
          var depth = 0
          while (!p.done && !(depth == 0 &&
              (p.peek == "," || p.peek == "WHERE"))) {
            if (p.peek == "(") depth += 1
            else if (p.peek == ")") depth -= 1
            p.next()
          }
          assigns += c -> expr(rewriteExpr(
            stmt.substring(from, p.toks(p.i - 1).end)))
          more = p.opt(",")
        }
        val cond =
          if (p.opt("WHERE")) expr(rewriteExpr(restFrom(p.i))) else lit(true)
        val assignments = assigns.result()
        if (graft.changelog.UpsertSink.isBucketed(spark, s.path)) {
          // a row's bucket is the hash of its key: moving keys would
          // strand rows in the wrong bucket
          require(!assignments.keys.exists(a =>
              s.primaryKey.exists(_.equalsIgnoreCase(a))),
            s"UPDATE ${s.name}: a bucketed upsert store cannot reassign " +
              s"its PRIMARY KEY [${s.primaryKey.mkString(", ")}]")
          graft.changelog.RowLevelOps.update(spark, s.path, cond, assignments)
          return
        }
        rewriteSwap(spark, s,
          graft.changelog.RowLevelOps.assign(_, cond, assignments))
    }
  }

  /** Rewrite a filesystem table through `transform` into a staging
    * sibling dir, then swap it in crash-safe (overwriting a path being
    * read is not safe in-place). Reads from `.old` when a crash left the
    * table there. */
  private def rewriteSwap(
      spark: SparkSession,
      spec: TableSpec,
      transform: DataFrame => DataFrame): Unit = {
    val from = graft.changelog.FsOps.current(spark, spec.path)
      .getOrElse(spec.path)
    graft.changelog.FsOps.replace(spark, spec.path) { staging =>
      val w = transform(fsRead(spark,
          spec.copy(options = spec.options + ("path" -> from))))
        .write.mode("overwrite").format(spec.format)
      spec.options.get("partition-keys")
        .fold(w)(ks => w.partitionBy(ks.split(",").map(_.trim): _*))
        .save(staging)
    }
  }

  /** Small local-metadata result (SHOW/DESCRIBE/EXPLAIN output). */
  private def metaDf(
      spark: SparkSession,
      cols: Seq[(String, DataType)],
      rows: Seq[Seq[Any]]): DataFrame = {
    val schema = StructType(cols.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t) })
    spark.createDataFrame(
      java.util.Arrays.asList(
        rows.map(r => org.apache.spark.sql.Row(r: _*)): _*),
      schema)
  }

  /** The reference's DESCRIBE shape (name, type, null, key, extras,
    * watermark) over a subset of a table's columns — shared by DESCRIBE
    * and SHOW COLUMNS. */
  private def describeDf(
      spark: SparkSession,
      spec: TableSpec,
      cols: Seq[ColumnSpec]): DataFrame = {
    val wmText = spec.watermark
      .map(w => s"${w.col} - INTERVAL '${w.delay}'").getOrElse(null)
    metaDf(spark,
      Seq("name" -> StringType, "type" -> StringType,
        "null" -> BooleanType, "key" -> StringType,
        "extras" -> StringType, "watermark" -> StringType),
      cols.map { c =>
        Seq[Any](
          c.name,
          c.dataType.map(_.sql).getOrElse("COMPUTED"),
          true,
          if (spec.primaryKey.contains(c.name))
            s"PRI(${spec.primaryKey.mkString(", ")})" else null,
          c.computedExpr.map(e => s"AS $e")
            .getOrElse(if (c.isMetadata) "METADATA" else null),
          if (spec.watermark.exists(_.col == c.name)) wmText else null)
      })
  }

  /** Shared statement loop for the batch and streaming faces. */
  private def runStatements(
      spark: SparkSession,
      script: String,
      catalog: scala.collection.mutable.LinkedHashMap[String, TableSpec],
      modelCatalog: scala.collection.mutable.LinkedHashMap[String, graft.ml.ModelSpec],
      tables: () => Map[String, DataFrame],
      models: () => Map[String, graft.ml.ModelProvider],
      onInsert: String => Unit,
      onCtas: (TableSpec, String) => Unit,
      onQuery: String => Unit,
      onResult: DataFrame => Unit,
      onMutate: String => Unit,
      onMaterialized: (TableSpec, String) => Unit =
        (s, _) => throw new IllegalArgumentException(
          s"CREATE MATERIALIZED TABLE ${s.name} is not supported here"),
      onMtAlter: (String, MtAction) => Unit =
        (n, _) => throw new IllegalArgumentException(
          s"ALTER MATERIALIZED TABLE $n is not supported here"),
      onStopJob: (String, Boolean, Boolean) => Option[String] =
        (id, _, _) => throw new IllegalArgumentException(
          s"STOP JOB '$id': no streaming jobs in batch mode"),
      onListJobs: () => Seq[Seq[Any]] = () => Nil,
      procedures: Map[String, Procedure] = Procedures.builtin): Unit = {
    // Namespace + connection registries (reference DDL:
    // ddl/catalog/SqlCreateCatalog.java, SqlUseCatalog.java,
    // SqlCreateDatabase.java, ddl/connection/SqlCreateConnection.java).
    // Scope: these manage defaults and visibility — the physical table
    // namespace stays FLAT (the Spark temp-view model), so one table
    // name cannot exist in two databases at once (rejected explicitly).
    val catalogs = scala.collection.mutable.LinkedHashMap(
      "default_catalog" -> Map.empty[String, String])
    val databases = scala.collection.mutable.LinkedHashSet(
      "default_catalog.default_database")
    val connections =
      scala.collection.mutable.LinkedHashMap.empty[String, Map[String, String]]
    // LOAD/UNLOAD MODULE manage resolution-order metadata only (the
    // function surface is the session's; SqlLoadModule/SqlUnloadModule).
    // `modules` = loaded, `usedModules` = the USE MODULES resolution
    // order (a loaded module can be out of use, as in the reference).
    val modules = scala.collection.mutable.LinkedHashSet("core")
    var usedModules: Seq[String] = Seq("core")
    // ADD/SHOW/REMOVE JAR (docs sql/reference/utility/jar.md): the
    // session jar classpath. Added jars extend every later
    // CREATE FUNCTION class resolution (the reference's
    // user-classloader behavior); listing preserves add order.
    val sessionJars = scala.collection.mutable.LinkedHashSet.empty[String]
    var curCatalog = "default_catalog"
    var curDatabase = "default_database"
    def dbTag(spec: TableSpec): String =
      spec.options.getOrElse("database", "default_catalog.default_database")
    def curDbTag: String = s"$curCatalog.$curDatabase"
    /** Merge a `USING CONNECTION` reference into WITH options (explicit
      * options win; the marker is replaced by the resolved values). */
    def mergeConnection(options: Map[String, String]): Map[String, String] =
      options.get("connection") match {
        case None => options
        case Some(cn) =>
          val conn = connections.getOrElse(cn,
            throw new IllegalArgumentException(
              s"unknown connection $cn; known: " +
                connections.keys.mkString(", ")))
          conn ++ (options - "connection")
      }
    // JDBC-BACKED CATALOG dispatch (round 11 — the reference's
    // JdbcCatalog: flink-connector-jdbc …/catalog/JdbcCatalog.java /
    // AbstractJdbcCatalog.java surface): `CREATE CATALOG c WITH
    // ('type'='jdbc', 'base-url'=…[, 'default-database'=…,
    // 'username'=…, 'password'=…])`. Tables resolve THROUGH the
    // connection: a `c.db.t` reference anywhere in a statement becomes
    // a Spark jdbc scan of that table (registered under a flat view
    // name — pushdown inherited from the JDBC source), and SHOW TABLES
    // under a jdbc current catalog lists the connection's tables.
    def jdbcOpts(cat: String): Option[Map[String, String]] =
      catalogs.get(cat).filter(_.get("type").contains("jdbc"))
    def jdbcUrl(opts: Map[String, String], db: String): String =
      opts.getOrElse("url",
        opts.getOrElse("base-url", throw new IllegalArgumentException(
          "a jdbc catalog needs 'base-url' (or 'url')"))
          .stripSuffix("/") + "/" + db)
    def jdbcListTables(opts: Map[String, String], db: String): Seq[String] = {
      val props = new java.util.Properties()
      opts.get("username").foreach(props.setProperty("user", _))
      opts.get("password").foreach(props.setProperty("password", _))
      val conn =
        java.sql.DriverManager.getConnection(jdbcUrl(opts, db), props)
      try {
        val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (rs.next()) out += rs.getString("TABLE_NAME").toLowerCase
        out.toSeq
      } finally conn.close()
    }
    def rewriteJdbcRefs(stmtText: String): String = {
      def identLike(t: FlinkSql.Tok): Boolean =
        t.s.nonEmpty && (t.s.head.isLetter || t.s.head == '_')
      // clause keywords that END a FROM list at its own depth
      val fromEnders = Set("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
        "WINDOW", "UNION", "INTERSECT", "EXCEPT", "QUALIFY", "FETCH",
        "OFFSET", "MATCH_RECOGNIZE")
      var cur = stmtText
      var changed = true
      while (changed) {
        changed = false
        val ts = FlinkSql.tokenize(cur)
        // FROM-list scope per paren depth: a ',' inside an open FROM
        // list is also a table-reference position (ADVICE r11 —
        // comma-separated join lists `FROM a, cat.db.t`)
        val fromScope = Array.ofDim[Boolean](ts.length + 1)
        var depth = 0
        val refPosAt = Array.ofDim[Boolean](ts.length)
        var k = 0
        while (k < ts.length) {
          val t = ts(k)
          if (t.s == "(") { depth += 1; fromScope(depth) = false }
          else if (t.s == ")") { if (depth > 0) depth -= 1 }
          else if (t.up == "FROM") fromScope(depth) = true
          else if (t.up == "JOIN") fromScope(depth) = true
          else if (fromEnders.contains(t.up)) fromScope(depth) = false
          if (k + 1 < ts.length)
            refPosAt(k + 1) = t.up == "FROM" || t.up == "JOIN" ||
              (t.s == "," && fromScope(depth))
          k += 1
        }
        k = 0
        while (!changed && k + 4 < ts.length) {
          // only a TABLE-REFERENCE position (after FROM, JOIN, or a
          // comma inside an open FROM list) rewrites: a bare
          // ident.ident.ident elsewhere may be a struct-field path or a
          // write target (review r11 — and the rewrite opens a live
          // JDBC connection, which must not fire as a side effect of
          // unrelated projections)
          val refPos = k > 0 && refPosAt(k)
          val tripleDotted = k + 4 < ts.length &&
            ts(k + 1).s == "." && ts(k + 3).s == "." &&
            identLike(ts(k)) && identLike(ts(k + 2)) && identLike(ts(k + 4))
          // jdbc catalogs are READ-ONLY here: a jdbc write target gets
          // an explicit error, not an unrelated 'table not found'
          // (ADVICE r11)
          if (k > 0 && (ts(k - 1).up == "INTO" ||
              ts(k - 1).up == "OVERWRITE") && tripleDotted &&
              jdbcOpts(ts(k).s).isDefined)
            throw new IllegalArgumentException(
              s"jdbc catalogs are read-only in this runner: " +
                s"'${ts(k).s}.${ts(k + 2).s}.${ts(k + 4).s}' cannot be an " +
                "INSERT target — write through a registered filesystem " +
                "table or DataFrameWriter.jdbc instead")
          if (refPos && tripleDotted && jdbcOpts(ts(k).s).isDefined) {
            val opts = jdbcOpts(ts(k).s).get
            val (db, tbl) = (ts(k + 2).s, ts(k + 4).s)
            val flat = s"__jdbc_${ts(k).s}_${db}_$tbl"
            var r = spark.read.format("jdbc")
              .option("url", jdbcUrl(opts, db))
              .option("dbtable", tbl)
            opts.get("username").foreach(u => r = r.option("user", u))
            opts.get("password").foreach(w => r = r.option("password", w))
            r.load().createOrReplaceTempView(flat)
            cur = cur.substring(0, ts(k).start) + flat +
              cur.substring(ts(k + 4).end)
            changed = true
          }
          k += 1
        }
      }
      cur
    }
    // TIME TRAVEL (docs sql/reference/queries/time-travel.md;
    // SqlTableRef + Catalog.getTable(tablePath, timestamp)):
    // `FROM t FOR SYSTEM_TIME AS OF TIMESTAMP '…' [± INTERVAL '…' u]*`
    // over a snapshot-capable table. graft's catalog contract is the
    // dir-per-snapshot layout: the table declares 'snapshots'='true'
    // and its path holds `snapshot=<epochMillis>` subdirectories; the
    // resolved constant picks the LATEST snapshot at-or-before it
    // (the getTable(timestamp) lookup), and the reference is rewritten
    // to a synthetic catalog entry over that subdirectory. Only
    // TIMESTAMP-literal chains reduce (the reference's own
    // constant-reduction limitation, same error text); temporal-JOIN
    // spellings (`AS OF proctime/rowtime`) pass through untouched.
    var asofSeq = 0
    def rewriteTimeTravel(stmtText: String): String = {
      var cur = stmtText
      var changed = true
      while (changed) {
        changed = false
        val ts = FlinkSql.tokenize(cur)
        var k = 0
        while (!changed && k + 5 < ts.length) {
          if (ts(k + 1).up == "FOR" && ts(k + 2).up == "SYSTEM_TIME" &&
            ts(k + 3).up == "AS" && ts(k + 4).up == "OF" &&
            catalog.contains(ts(k).s)) {
            val spec = catalog(ts(k).s)
            var j = k + 5
            def isStrLit(t: FlinkSql.Tok): Boolean =
              t.s.length >= 2 && t.s.head == '\''
            if (ts(j).up == "TIMESTAMP" && j + 1 < ts.length &&
              isStrLit(ts(j + 1))) {
              // constant reduction: literal ± INTERVAL chain
              var t0 = java.time.LocalDateTime.parse(
                unquote(ts(j + 1).s).replace(' ', 'T'))
              j += 2
              var ok = true
              while (ok && j + 2 < ts.length &&
                (ts(j).s == "+" || ts(j).s == "-") &&
                ts(j + 1).up == "INTERVAL" && isStrLit(ts(j + 2))) {
                val sign = if (ts(j).s == "-") -1L else 1L
                val n = unquote(ts(j + 2).s).trim.toLong * sign
                val unit = if (j + 3 < ts.length) ts(j + 3).up else ""
                t0 = unit match {
                  case "SECOND" => t0.plusSeconds(n)
                  case "MINUTE" => t0.plusMinutes(n)
                  case "HOUR" => t0.plusHours(n)
                  case "DAY" => t0.plusDays(n)
                  case "MONTH" => t0.plusMonths(n)
                  case "YEAR" => t0.plusYears(n)
                  case other => ok = false
                    throw new IllegalArgumentException(
                      s"unsupported time travel INTERVAL unit: $other")
                }
                j += 4
              }
              val tsMillis = t0.toInstant(java.time.ZoneOffset.UTC)
                .toEpochMilli
              if (!spec.options.contains("snapshots"))
                throw new IllegalArgumentException(
                  s"table ${spec.name} does not support time travel — " +
                    "declare 'snapshots'='true' and lay the table out " +
                    "as path/snapshot=<epochMillis>/ directories (the " +
                    "Catalog.getTable(tablePath, timestamp) contract)")
              val snaps = Option(new java.io.File(spec.path).listFiles())
                .getOrElse(Array.empty)
                .filter(f => f.isDirectory &&
                  f.getName.startsWith("snapshot="))
                .map(f => f.getName.stripPrefix("snapshot=").toLong)
                .sorted
              val pick = snaps.filter(_ <= tsMillis).lastOption.getOrElse(
                throw new IllegalArgumentException(
                  s"table ${spec.name} has no snapshot at or before " +
                    s"$t0 (earliest: ${snaps.headOption.getOrElse("none")})"))
              asofSeq += 1
              val synth = s"${spec.name}__travel$asofSeq"
              catalog(synth) = spec.copy(name = synth,
                options = spec.options - "snapshots" +
                  ("path" -> s"${spec.path}/snapshot=$pick"))
              cur = cur.substring(0, ts(k).start) + synth +
                cur.substring(ts(j - 1).end)
              changed = true
            } else if (ts(j).s.nonEmpty && ts(j).s.head.isLetter &&
              j + 1 < ts.length && ts(j + 1).s == "(" &&
              !Set("PROCTIME").contains(ts(j).up)) {
              throw new IllegalArgumentException(
                s"Unsupported time travel expression: ${ts(j).s}(…) — " +
                  "the expression can not be reduced to a constant; " +
                  "use a TIMESTAMP literal (± INTERVAL)")
            } // else: temporal-join spelling on a column — untouched
          }
          k += 1
        }
      }
      cur
    }
    for (stmt0 <- splitStatements(script)) {
      val stmt = rewriteTimeTravel(rewriteJdbcRefs(stmt0))
      val toks = FlinkSql.tokenize(stmt)
      if (toks.nonEmpty) toks.head.up match {
        case "CREATE" =>
          val p = new FlinkSql.P(toks, stmt)
          p.eat("CREATE")
          if (p.opt("OR")) {
            if (p.opt("ALTER")) {
              // CREATE OR ALTER MATERIALIZED TABLE
              // (SqlCreateOrAlterMaterializedTable.java): redefinition
              // when it exists — schema/options/query all come from this
              // statement; engine-managed storage keeps its identity
              p.eat("MATERIALIZED"); p.eat("TABLE")
              val (parsed, query) = parseCreateMaterialized(p, stmt)
              val spec = catalog.get(parsed.name) match {
                case Some(old)
                    if parsed.options.contains(MtManagedOpt) &&
                      old.options.contains("path") =>
                  parsed.copy(options =
                    parsed.options + ("path" -> old.options("path")))
                case _ => parsed
              }
              onMaterialized(spec, query)
            } else {
              // CREATE OR REPLACE TABLE … AS <query>
              // (SqlReplaceTableAs.java): CTAS that overwrites
              p.eat("REPLACE"); p.opt("TEMPORARY"); p.eat("TABLE")
              val parsed = parseCreateTable(p, stmt, temporary = false)
              val q = parsed.ctasQuery.getOrElse(
                throw new IllegalArgumentException(
                  "CREATE OR REPLACE TABLE requires AS <query>"))
              onCtas(parsed.spec, q)
            }
          } else {
          val temporary = p.opt("TEMPORARY")
          if (p.opt("MATERIALIZED")) {
            // CREATE MATERIALIZED TABLE (SqlCreateMaterializedTable.java:55)
            require(!temporary,
              "TEMPORARY MATERIALIZED TABLE is not supported")
            p.eat("TABLE")
            val (spec, query) = parseCreateMaterialized(p, stmt)
            onMaterialized(spec, query)
          } else if (p.opt("VIEW")) {
            if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS") }
            val name = p.ident()
            p.eat("AS")
            val body = stmt.substring(p.toks(p.i).start)
            FlinkSql.sql(spark, body, tables(), models())
              .createOrReplaceTempView(name)
          } else if (p.opt("MODEL")) {
            // CREATE [TEMPORARY] MODEL [IF NOT EXISTS] name
            //   [INPUT (c T, …)] [OUTPUT (c T, …)] [COMMENT '…']
            //   [USING CONNECTION conn] WITH (…)
            // (SqlCreateModel.java:49; CREATE MODEL … AS <query> — model
            // training, SqlCreateModelAs — is out of scope for a query
            // engine and rejected explicitly)
            val spec = parseCreateModel(p, temporary)
            modelCatalog(spec.name) =
              spec.copy(options = mergeConnection(spec.options))
          } else if (p.opt("CATALOG")) {
            // CREATE CATALOG [IF NOT EXISTS] c [COMMENT '…'] [WITH (…)]
            // (catalog/SqlCreateCatalog.java)
            val ifNotExists =
              if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS"); true }
              else false
            val name = p.ident()
            if (p.opt("COMMENT")) p.next()
            val opts = if (p.opt("WITH")) parseOptions(p)
            else Map.empty[String, String]
            require(ifNotExists || !catalogs.contains(name),
              s"catalog $name already exists")
            if (!catalogs.contains(name)) {
              catalogs(name) = opts
              databases += s"$name.default_database"
            }
          } else if (p.opt("DATABASE")) {
            // CREATE DATABASE [IF NOT EXISTS] [cat.]db [COMMENT '…']
            // [WITH (…)] (SqlCreateDatabase.java)
            val ifNotExists =
              if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS"); true }
              else false
            val n1 = p.ident()
            val (cat, db) =
              if (p.opt(".")) (n1, p.ident()) else (curCatalog, n1)
            if (p.opt("COMMENT")) p.next()
            if (p.opt("WITH")) parseOptions(p)
            require(catalogs.contains(cat), s"unknown catalog $cat")
            require(ifNotExists || !databases.contains(s"$cat.$db"),
              s"database $cat.$db already exists")
            databases += s"$cat.$db"
          } else if (p.opt("CONNECTION")) {
            // CREATE CONNECTION [IF NOT EXISTS] c [COMMENT '…'] WITH (…)
            // (connection/SqlCreateConnection.java) — a named, reusable
            // option bundle (endpoint/auth) that CREATE TABLE/MODEL pull
            // in via USING CONNECTION
            val ifNotExists =
              if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS"); true }
              else false
            val name = p.ident()
            if (p.opt("COMMENT")) p.next()
            p.eat("WITH")
            val opts = parseOptions(p)
            require(ifNotExists || !connections.contains(name),
              s"connection $name already exists")
            if (!connections.contains(name)) connections(name) = opts
          } else if (p.peek.equalsIgnoreCase("FUNCTION") ||
              (p.peek.equalsIgnoreCase("SYSTEM") )) {
            // CREATE [TEMPORARY] [SYSTEM] FUNCTION [IF NOT EXISTS]
            // [cat.][db.]name AS 'class' [LANGUAGE JAVA|SCALA]
            // [USING JAR 'p' [, JAR 'p2']…] (ddl/SqlCreateFunction.java)
            p.opt("SYSTEM"); p.eat("FUNCTION")
            if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS") }
            var name = p.ident()
            while (p.opt(".")) name = p.ident() // catalog/db qualifiers
            p.eat("AS")
            val className = unquote(p.next().s)
            if (p.opt("LANGUAGE")) {
              val lang = p.ident().toUpperCase
              require(lang == "JAVA" || lang == "SCALA",
                s"LANGUAGE $lang is not runnable here (JVM classes only)")
            }
            val jars = scala.collection.mutable.ArrayBuffer.empty[String]
            if (p.opt("USING")) {
              var more = true
              while (more) {
                p.eat("JAR")
                jars += unquote(p.next().s)
                more = p.opt(",")
              }
            }
            // ADD JAR'd paths extend the lookup (jar.md): declared
            // USING JAR paths take precedence in the loader order
            JvmFunctions.register(spark, name, className,
              jars.toSeq ++ sessionJars.toSeq.filterNot(jars.contains))
          } else {
            p.eat("TABLE")
            val parsed = parseCreateTable(p, stmt, temporary)
            val spec0 = parsed.like.fold(parsed.spec) { case (base, merge) =>
              val baseSpec = catalog.getOrElse(base,
                throw new IllegalArgumentException(
                  s"LIKE references unknown table $base; " +
                    s"known: ${catalog.keys.mkString(", ")}"))
              mergeLike(parsed.spec, baseSpec, merge)
            }
            // tag the owning database; reject a same-name table in a
            // DIFFERENT database (flat physical namespace, see above)
            catalog.get(spec0.name).foreach { old =>
              require(dbTag(old) == curDbTag,
                s"table ${spec0.name} already exists in ${dbTag(old)} — " +
                  "the runner keeps one flat table namespace across " +
                  "databases")
            }
            val merged = mergeConnection(spec0.options)
            val spec = spec0.copy(options =
              if (curDbTag == "default_catalog.default_database") merged
              else merged + ("database" -> curDbTag))
            parsed.ctasQuery match {
              case None => catalog(spec.name) = spec
              case Some(q) => onCtas(spec, q)
            }
          }
          }
        case "INSERT" => onInsert(stmt)
        case "EXECUTE" if toks.length > 1 && toks(1).up == "PLAN" =>
          // EXECUTE PLAN 'file' (SqlExecutePlan in flink-sql-parser):
          // load a persisted plan manifest and run its pipeline. The
          // manifest embeds the referenced CREATE TABLE statements, so
          // execution is self-contained — a fresh session (or a session
          // whose catalog has drifted) runs the compiled pipeline as it
          // was at compile time, the reference's compiled-plan contract.
          val p = new FlinkSql.P(toks, stmt)
          p.eat("EXECUTE"); p.eat("PLAN")
          val path = unquote(p.next().s)
          val (creates, inner, pinned, pinnedLayouts) = readPlanManifest(path)
          // State-layout pinning (VERDICT r17 task 7): an operator whose
          // state ENCODING changed since compile time cannot resume this
          // plan's checkpoints even when the plan shape is identical —
          // the reference's versioned ExecNode serde makes this a
          // first-class compatibility check, so strict mode throws
          // NAMING the operator(s); default warns.
          if (pinnedLayouts.nonEmpty) {
            val live = graft.streaming.StateLayouts.current
            val drifted = pinnedLayouts.toSeq.sorted.flatMap {
              case (op, v) => live.get(op) match {
                case Some(cur) if cur != v => Some(s"$op: pinned v$v, now v$cur")
                case None => Some(s"$op: pinned v$v, operator layout no " +
                  "longer registered")
                case _ => None
              }
            }
            if (drifted.nonEmpty) {
              val msg = s"EXECUTE PLAN '$path': state layout(s) changed " +
                s"since COMPILE PLAN pinned them — ${drifted.mkString("; ")}"
              if (spark.conf.getOption("spark.graft.strictCompiledPlan")
                .contains("true")) throw new IllegalStateException(msg)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
            }
          }
          // Physical pinning (the reference's per-ExecNode plan JSON,
          // CompiledPlan.java): the manifest records the operator-shape
          // fingerprint the statement compiled to; re-derive it now and
          // compare — a drift (optimizer change, broadcast→shuffle flip
          // from grown inputs, lost pushdown) WARNS by default and
          // throws under spark.graft.strictCompiledPlan=true. Older
          // manifests without the field skip the check.
          pinned.foreach { expected =>
            val strict = spark.conf
              .getOption("spark.graft.strictCompiledPlan").contains("true")
            // re-registering the manifest's CREATEs here is metadata-only
            // (plain CREATE TABLE statements — the manifest never holds
            // CTAS), so the fingerprint pass duplicates no data work
            val got = scala.util.Try {
              val sr = runScript(spark, creates.mkString(";\n"))
              val tbls = sr.catalog.flatMap { case (n, sp) =>
                scala.util.Try(n -> sourceDf(spark, sp)).toOption
              }
              val (_, query, _, _) = splitInsert(inner)
              planFingerprint(spark, query, tbls)
            }
            got match {
              case scala.util.Success(g) if g != expected =>
                val msg = s"EXECUTE PLAN '$path': the physical plan has " +
                  "drifted since COMPILE PLAN pinned it.\n--- pinned ---\n" +
                  s"$expected\n--- current ---\n$g"
                if (strict) throw new IllegalStateException(msg)
                org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
              case scala.util.Failure(e) if strict =>
                // strict mode must not silently skip: if the pinned plan
                // cannot even be re-derived, that IS drift
                throw new IllegalStateException(
                  s"EXECUTE PLAN '$path': could not re-derive the pinned " +
                    s"physical plan under strictCompiledPlan", e)
              case _ => ()
            }
          }
          run(spark, (creates :+ inner).mkString(";\n"))
        case "EXECUTE" | "BEGIN" =>
          // EXECUTE STATEMENT SET BEGIN <insert>; …; END  (or the legacy
          // BEGIN STATEMENT SET; … END spelling)
          for (inner <- statementSetInserts(stmt)) onInsert(inner)
        case "COMPILE" =>
          // COMPILE [AND EXECUTE] PLAN [IF NOT EXISTS] 'file' FOR
          // <insert> (SqlCompilePlan / SqlCompileAndExecutePlan): persist
          // the pipeline as a JSON manifest — the statement plus the
          // CREATE TABLE DDL of every catalog table it references
          // (regenerated via the SHOW CREATE TABLE writer, the same
          // round-trip contract). graft's plans are declarative SQL over
          // self-describing specs, so the manifest IS the compiled plan;
          // Spark/Catalyst re-derives the physical plan at execute time
          // (the reference pins physical operators — documented delta).
          val p = new FlinkSql.P(toks, stmt)
          p.eat("COMPILE")
          val andExec = p.opt("AND")
          if (andExec) p.eat("EXECUTE")
          p.eat("PLAN")
          val ifNotExists =
            if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS"); true }
            else false
          val path = unquote(p.next().s)
          p.eat("FOR")
          require(!p.done, "COMPILE PLAN … FOR needs a statement")
          val inner = stmt.substring(toks(p.i).start).trim
          val innerToks = FlinkSql.tokenize(inner)
          require(innerToks.nonEmpty && innerToks.head.up == "INSERT",
            "COMPILE PLAN supports a single INSERT statement (the " +
              "reference's restriction); for several sinks compile one " +
              "plan per INSERT — STATEMENT SET compilation is not " +
              "supported here")
          val file = new java.io.File(path)
          if (file.exists() && !ifNotExists)
            throw new IllegalArgumentException(
              s"COMPILE PLAN: $path already exists — use COMPILE PLAN " +
                "IF NOT EXISTS to keep it, or delete the file")
          if (!file.exists()) {
            // serialize the referenced catalog tables (token-membership
            // scan over the statement) + the statement
            val refd = catalog.values.filter(s =>
              innerToks.exists(_.s.equalsIgnoreCase(s.name))).toSeq
            val sb = new StringBuilder
            def js(s: String): String = "\"" + s.flatMap {
              case '"' => "\\\""
              case '\\' => "\\\\"
              case '\n' => "\\n"
              case '\r' => "\\r"
              case '\t' => "\\t"
              case c if c < ' ' => f"\\u${c.toInt}%04x"
              case c => c.toString
            } + "\""
            sb.append("{\"version\":1,\"kind\":\"graft-compiled-plan\",")
            sb.append("\"tables\":[")
            sb.append(refd.map(s => js(showCreateTable(s))).mkString(","))
            sb.append("],\"statement\":").append(js(inner))
            // pin the operator-shape fingerprint of the INSERT's query
            // (best-effort: a query over a not-yet-written sink table
            // cannot plan at compile time — the field is then absent and
            // EXECUTE PLAN skips the drift check)
            val compiled = scala.util.Try {
              val (_, query, _, _) = splitInsert(inner)
              val df = FlinkSql.sql(spark, query, tables())
              (planFingerprintOf(df), holdsOperatorState(df))
            }.toOption
            compiled.foreach { case (fp, _) =>
              sb.append(",\"physicalPlan\":").append(js(fp)) }
            // pin the engine's state-layout versions (VERDICT r17 task 7:
            // the reference's per-node serde versions) so strict EXECUTE
            // catches a state-encoding change even when the operator
            // SHAPE is unchanged. r18 refinement: a plan that provably
            // holds NO operator state pins an EMPTY set — layout bumps
            // can't invalidate a stateless pipeline. When the plan can't
            // be compiled at all, pin the FULL registry (conservative).
            val pinStateful = compiled.forall(_._2)
            sb.append(",\"stateLayouts\":{")
            if (pinStateful)
              sb.append(graft.streaming.StateLayouts.current.toSeq.sorted
                .map { case (k, v) => js(k) + ":" + v }.mkString(","))
            sb.append("}}")
            Option(file.getParentFile).foreach(_.mkdirs())
            java.nio.file.Files.writeString(file.toPath, sb.toString)
          }
          if (andExec) onInsert(inner)
        case "ADD" =>
          // ADD JAR 'path' (jar.md; SqlAddJar.java)
          val p = new FlinkSql.P(toks, stmt)
          p.eat("ADD"); p.eat("JAR")
          val path = unquote(p.next().s)
          require(new java.io.File(path).exists(),
            s"ADD JAR: $path does not exist")
          sessionJars += path
        case "REMOVE" =>
          // REMOVE JAR 'path' (jar.md; SqlRemoveJar.java)
          val p = new FlinkSql.P(toks, stmt)
          p.eat("REMOVE"); p.eat("JAR")
          val path = unquote(p.next().s)
          require(sessionJars.remove(path),
            s"REMOVE JAR: $path was not added; added: " +
              sessionJars.mkString(", "))
        case "CALL" =>
          // `CALL [catalog.][db.]proc(arg, …)` (docs
          // dev/table/procedures.md; SqlCallProcedure / the planner's
          // CallProcedureOperation): resolve the procedure from the
          // registry (the reference's Catalog.getProcedure lookup),
          // call it with the parsed literal arguments, surface the
          // returned array as rows of one `result` column.
          val p = new FlinkSql.P(toks, stmt)
          p.eat("CALL")
          val nameParts = scala.collection.mutable.ListBuffer.empty[String]
          nameParts += unquote(p.next().s)
          while (p.peek == ".") { p.next(); nameParts += unquote(p.next().s) }
          val qname = nameParts.mkString(".")
          p.eat("(")
          val args = scala.collection.mutable.ListBuffer.empty[Any]
          while (p.peek != ")") {
            var t = p.next()
            // a '-' sign may tokenize separately from its number
            val neg = t.s == "-"
            if (neg) t = p.next()
            args += (t.up match {
              case "NULL" => null
              case "TRUE" => true
              case "FALSE" => false
              case s if s.headOption.exists(_.isDigit) =>
                if (s.contains('.') || s.contains('E'))
                  (if (neg) -1 else 1) * s.toDouble
                else (if (neg) -1L else 1L) * s.toLong
              case _ =>
                require(!neg, s"CALL: unexpected '-' before ${t.s}")
                unquote(t.s)
            })
            if (p.peek == ",") p.next()
          }
          p.eat(")")
          val proc = procedures.get(qname)
            .orElse(procedures.find { case (k, _) =>
              k == nameParts.takeRight(2).mkString(".") ||
                k.split('.').last == nameParts.last
            }.map(_._2))
            .getOrElse(throw new IllegalArgumentException(
              s"procedure $qname does not exist; known: " +
                procedures.keys.toSeq.sorted.mkString(", ")))
          val out = proc.call(new ProcedureContext(spark), args.toList)
          val colType: DataType = out.collectFirst {
            case x if x != null => x
          } match {
            case Some(_: Long) | Some(_: Int) => LongType
            case Some(_: Double) | Some(_: Float) => DoubleType
            case Some(_: Boolean) => BooleanType
            case _ => StringType
          }
          val rows = out.map {
            case null => Seq(null)
            case x: Int => Seq(x.toLong)
            case x: Float => Seq(x.toDouble)
            case x: Long => Seq(x)
            case x: Double => Seq(x)
            case x: Boolean => Seq(x)
            case x => Seq(x.toString)
          }
          onResult(metaDf(spark, Seq("result" -> colType), rows))
        case "SET" =>
          // `SET 'k' = 'v'` (SqlSet.java). Spark-namespaced keys apply to
          // the live session conf; Flink-namespaced keys are accepted as
          // metadata (their engine knobs have no Spark counterpart).
          val p = new FlinkSql.P(toks, stmt)
          p.eat("SET")
          if (!p.done) {
            val k = unquote(p.next().s)
            p.eat("=")
            val v = unquote(p.next().s)
            if (k.startsWith("spark.")) spark.conf.set(k, v)
            // Flink-namespaced keys persist under a conf prefix so later
            // statements (e.g. STOP JOB … WITH SAVEPOINT reading
            // execution.checkpointing.savepoint-dir) can read them back
            else spark.conf.set(s"spark.graft.flink.$k", v)
          }
        case "RESET" =>
          // `RESET 'k'` / bare `RESET` (SqlReset.java)
          val p = new FlinkSql.P(toks, stmt)
          p.eat("RESET")
          if (!p.done) {
            val k = unquote(p.next().s)
            if (k.startsWith("spark."))
              scala.util.Try(spark.conf.unset(k))
            else scala.util.Try(spark.conf.unset(s"spark.graft.flink.$k"))
          }
        case "ANALYZE" =>
          // ANALYZE TABLE t [PARTITION(…)] COMPUTE STATISTICS
          // [FOR COLUMNS c1, c2 | FOR ALL COLUMNS] — the reference's
          // SqlNodeToOperationConversion ANALYZE branch / the stats the
          // TPC-DS harness feeds CBO (TpcdsStatsProvider.java). A
          // filesystem spec gets a session-catalog parquet/orc table
          // registered over its files, Spark's NATIVE statement computes
          // the statistics onto it, and subsequent reads of the graft
          // table go through that entry so row-count/column stats reach
          // Catalyst's cost model. PARTITION specs are accepted and
          // analyzed whole-table (documented: the flat-namespace model
          // keeps per-partition stats in the files).
          val p = new FlinkSql.P(toks, stmt)
          p.eat("ANALYZE"); p.eat("TABLE")
          val name = p.ident()
          if (p.opt("PARTITION")) {
            p.eat("(")
            var d = 1
            while (d > 0 && !p.done) {
              val s = p.next().s
              if (s == "(") d += 1 else if (s == ")") d -= 1
            }
          }
          p.eat("COMPUTE"); p.eat("STATISTICS")
          val forClause =
            if (p.opt("FOR")) {
              if (p.opt("ALL")) { p.eat("COLUMNS"); " FOR ALL COLUMNS" }
              else {
                p.eat("COLUMNS")
                val cs = scala.collection.mutable.ArrayBuffer(p.ident())
                while (p.opt(",")) cs += p.ident()
                s" FOR COLUMNS ${cs.mkString(", ")}"
              }
            } else ""
          val spec = catalog.getOrElse(name,
            throw new IllegalArgumentException(
              s"ANALYZE TABLE $name: unknown table; known: " +
                catalog.keys.mkString(", ")))
          require(spec.connector == "filesystem" && spec.path != null,
            s"ANALYZE TABLE $name: only filesystem tables carry " +
              "file-backed statistics")
          require(Seq("parquet", "orc").contains(spec.format),
            s"ANALYZE TABLE $name: self-describing formats only " +
              s"(parquet/orc), not ${spec.format}")
          val backed = s"graft_analyzed_$name"
          spark.sql(s"DROP TABLE IF EXISTS `$backed`")
          spark.catalog.createTable(backed, spec.path, spec.format)
          spark.sql(s"ANALYZE TABLE `$backed` COMPUTE STATISTICS$forClause")
          catalog(name) =
            spec.copy(options = spec.options + (AnalyzedOpt -> backed))
        case "USE" =>
          // USE CATALOG c (SqlUseCatalog.java) | USE [db] (SqlUseDatabase)
          // | USE MODULES … (SqlUseModules — accepted, module resolution
          // order has no Spark counterpart)
          val p = new FlinkSql.P(toks, stmt)
          p.eat("USE")
          if (p.opt("CATALOG")) {
            val name = p.ident()
            require(catalogs.contains(name),
              s"unknown catalog $name; known: ${catalogs.keys.mkString(", ")}")
            curCatalog = name
            curDatabase = "default_database"
          } else if (p.opt("MODULES")) {
            // USE MODULES m1[, m2…] — declares the resolution order;
            // loaded modules left off the list fall out of use
            // (SqlUseModules.java)
            val order = scala.collection.mutable.ArrayBuffer(p.ident())
            while (p.opt(",")) order += p.ident()
            order.foreach(m => require(modules.contains(m),
              s"module $m is not loaded; loaded: ${modules.mkString(", ")}"))
            usedModules = order.toSeq
          } else if (!p.done) {
            val n1 = p.ident()
            val (cat, db) =
              if (p.opt(".")) (n1, p.ident()) else (curCatalog, n1)
            require(databases.contains(s"$cat.$db"),
              s"unknown database $cat.$db; known: ${databases.mkString(", ")}")
            curCatalog = cat
            curDatabase = db
          }
        case "STOP" =>
          // STOP JOB 'id' [WITH SAVEPOINT] [WITH DRAIN] (SqlStopJob.java)
          val p = new FlinkSql.P(toks, stmt)
          p.eat("STOP"); p.eat("JOB")
          val id = unquote(p.next().s)
          var savepoint = false
          var drain = false
          while (p.opt("WITH")) {
            if (p.opt("SAVEPOINT")) savepoint = true
            else { p.eat("DRAIN"); drain = true }
          }
          val sp = onStopJob(id, savepoint, drain)
          if (savepoint)
            onResult(metaDf(spark, Seq("savepoint path" -> StringType),
              Seq(Seq[Any](sp.getOrElse("")))))
        case "LOAD" =>
          val p = new FlinkSql.P(toks, stmt)
          p.eat("LOAD"); p.eat("MODULE")
          val name = p.ident()
          if (p.opt("WITH")) parseOptions(p)
          if (modules.add(name)) usedModules = usedModules :+ name
        case "UNLOAD" =>
          val p = new FlinkSql.P(toks, stmt)
          p.eat("UNLOAD"); p.eat("MODULE")
          val name = p.ident()
          require(modules.remove(name),
            s"module $name is not loaded; loaded: ${modules.mkString(", ")}")
          usedModules = usedModules.filterNot(_ == name)
        case "DELETE" | "UPDATE" | "TRUNCATE" => onMutate(stmt)
        case "ALTER" =>
          val p = new FlinkSql.P(toks, stmt)
          p.eat("ALTER")
          if (p.opt("MATERIALIZED")) {
            // ALTER MATERIALIZED TABLE t REFRESH [PARTITION (k=v,…)] |
            // SUSPEND | RESUME [WITH (…)] | AS <query>
            // (SqlAlterMaterializedTableRefresh/Suspend/Resume/AsQuery)
            p.eat("TABLE")
            val name = p.ident()
            val action: MtAction =
              if (p.opt("REFRESH")) {
                val part = scala.collection.mutable.LinkedHashMap
                  .empty[String, String]
                if (p.opt("PARTITION")) {
                  p.eat("(")
                  var go = true
                  while (go) {
                    val k = p.ident(); p.eat("=")
                    part(k) = unquote(p.next().s)
                    go = p.opt(",")
                  }
                  p.eat(")")
                }
                MtRefresh(part.toMap)
              } else if (p.opt("SUSPEND")) MtSuspend
              else if (p.opt("RESUME")) {
                if (p.opt("WITH")) parseOptions(p) // accepted, job hints
                MtResume
              } else if (p.opt("AS")) {
                MtAsQuery(stmt.substring(p.toks(p.i).start))
              } else throw new IllegalArgumentException(
                "ALTER MATERIALIZED TABLE supports REFRESH [PARTITION]," +
                  " SUSPEND, RESUME, and AS <query>")
            onMtAlter(name, action)
          } else if (p.opt("MODEL")) {
            // ALTER MODEL [IF EXISTS] m RENAME TO n | SET (…) | RESET (…)
            // (SqlAlterModelRename/Set/Reset.java)
            if (p.opt("IF")) p.eat("EXISTS")
            val name = p.ident()
            val spec = modelCatalog.getOrElse(name,
              throw new IllegalArgumentException(
                s"ALTER of unknown model $name; known: " +
                  modelCatalog.keys.mkString(", ")))
            if (p.opt("RENAME")) {
              p.eat("TO")
              val to = p.ident()
              modelCatalog.remove(name)
              modelCatalog(to) = spec.copy(name = to)
            } else if (p.opt("RESET")) {
              p.eat("(")
              val dropped = scala.collection.mutable.ArrayBuffer(
                unquote(p.next().s))
              while (p.opt(",")) dropped += unquote(p.next().s)
              p.eat(")")
              modelCatalog(name) = spec.copy(options =
                spec.options -- dropped)
            } else {
              p.eat("SET")
              modelCatalog(name) = spec.copy(options =
                spec.options ++ parseOptions(p))
            }
          } else if (p.opt("CONNECTION")) {
            // ALTER CONNECTION c SET (…) | RESET (…) | RENAME TO n
            // (connection/SqlAlterConnectionSet/Reset/Rename.java)
            if (p.opt("IF")) p.eat("EXISTS")
            val name = p.ident()
            val opts = connections.getOrElse(name,
              throw new IllegalArgumentException(
                s"ALTER of unknown connection $name; known: " +
                  connections.keys.mkString(", ")))
            if (p.opt("RENAME")) {
              p.eat("TO")
              val to = p.ident()
              connections.remove(name)
              connections(to) = opts
            } else if (p.opt("RESET")) {
              p.eat("(")
              val dropped = scala.collection.mutable.ArrayBuffer(
                unquote(p.next().s))
              while (p.opt(",")) dropped += unquote(p.next().s)
              p.eat(")")
              connections(name) = opts -- dropped
            } else {
              p.eat("SET")
              connections(name) = opts ++ parseOptions(p)
            }
          } else if (p.opt("VIEW")) {
            // ALTER VIEW v RENAME TO v2 | AS <query>
            // (ddl/SqlAlterViewRename.java / SqlAlterViewAs.java)
            if (p.opt("IF")) p.eat("EXISTS")
            val name = p.ident()
            require(spark.catalog.tableExists(name),
              s"ALTER of unknown view $name")
            if (p.opt("RENAME")) {
              p.eat("TO")
              val to = p.ident()
              spark.table(name).createOrReplaceTempView(to)
              spark.catalog.dropTempView(name)
            } else {
              p.eat("AS")
              FlinkSql.sql(spark, stmt.substring(p.toks(p.i).start),
                tables(), models()).createOrReplaceTempView(name)
            }
          } else {
            p.eat("TABLE")
            if (p.opt("IF")) p.eat("EXISTS")
            val name = p.ident()
            val spec = catalog.getOrElse(name,
              throw new IllegalArgumentException(
                s"ALTER of unknown table $name; known: " +
                  catalog.keys.mkString(", ")))
            if (p.opt("RENAME")) {
              p.eat("TO")
              val to = p.ident()
              catalog.remove(name)
              catalog(to) = spec.copy(name = to)
            } else if (p.peek == "ADD" || p.peek == "DROP") {
              // ALTER TABLE t ADD|DROP [IF (NOT) EXISTS] PARTITION (k=v,…)
              // (SqlAddPartitions.java / SqlDropPartitions.java) against
              // the filesystem table's hive-style layout: ADD creates the
              // partition directory (registers the location), DROP
              // removes the directory AND its data — both metadata-scale,
              // no table rewrite.
              val adding = p.next().up == "ADD"
              if (p.opt("IF")) { if (adding) p.eat("NOT"); p.eat("EXISTS") }
              p.eat("PARTITION")
              val partKeys = spec.options.getOrElse("partition-keys",
                throw new IllegalArgumentException(
                  s"$name is not partitioned")).split(",").map(_.trim)
              p.eat("(")
              val kv = scala.collection.mutable.LinkedHashMap.empty[String, String]
              var go = true
              while (go) {
                val k = p.ident(); p.eat("=")
                kv(k) = unquote(p.next().s)
                go = p.opt(",")
              }
              p.eat(")")
              kv.keys.foreach(k => require(
                partKeys.exists(_.equalsIgnoreCase(k)),
                s"$k is not a partition column of $name ($partKeys)"))
              // hive-style dir path in declared key order
              val dir = new java.io.File(spec.path,
                partKeys.flatMap(k => kv.collectFirst {
                  case (kk, v) if kk.equalsIgnoreCase(k) => s"$k=$v"
                }).mkString("/"))
              if (adding) dir.mkdirs()
              else if (dir.isDirectory) {
                def rm(f: java.io.File): Unit = {
                  Option(f.listFiles()).foreach(_.foreach(rm))
                  f.delete()
                }
                rm(dir)
              }
            } else {
              p.eat("SET")
              // ALTER TABLE t SET ('k'='v', …) — merge, new keys win
              catalog(name) = spec.copy(options =
                spec.options ++ parseOptions(p))
            }
          }
        case "SHOW" =>
          val p = new FlinkSql.P(toks, stmt)
          p.eat("SHOW")
          val what = p.ident().toUpperCase
          // trailing `[NOT] LIKE 'pattern'` on the listing statements
          // (SqlShowTables.java:35 — SQL LIKE with % and _)
          def likeFilter(): String => Boolean = {
            val negated = p.opt("NOT")
            if (p.opt("LIKE")) {
              val pat = unquote(p.next().s)
              val rx = ("(?s)" + pat.flatMap {
                case '%' => ".*"
                case '_' => "."
                case c if "\\.[]{}()*+-?^$|".contains(c) => "\\" + c
                case c => c.toString
              } + "").r
              n => rx.matches(n) != negated
            } else {
              require(!negated, "NOT must be followed by LIKE")
              _ => true
            }
          }
          def listOf(col: String, names: Seq[String]): Unit = {
            val f = likeFilter()
            onResult(metaDf(spark, Seq(col -> StringType),
              names.filter(f).sorted.map(n => Seq[Any](n))))
          }
          what match {
            case "MODELS" => listOf("model name", modelCatalog.keys.toSeq)
            case "TABLES" =>
              jdbcOpts(curCatalog) match {
                case Some(opts) =>
                  // a jdbc catalog lists the CONNECTION's tables
                  val db =
                    if (curDatabase == "default_database")
                      opts.getOrElse("default-database", "db")
                    else curDatabase
                  listOf("table name", jdbcListTables(opts, db))
                case None =>
                  // scoped to the database in use, as in the reference
                  listOf("table name", catalog.iterator.collect {
                    case (n, s) if dbTag(s) == curDbTag => n
                  }.toSeq)
              }
            case "VIEWS" =>
              listOf("view name", spark.catalog.listTables().collect()
                .filter(_.tableType == "TEMPORARY").map(_.name)
                .filterNot(_.startsWith("__graft")).toSeq)
            case "DATABASES" =>
              listOf("database name", databases.toSeq.collect {
                case d if d.startsWith(s"$curCatalog.") =>
                  d.stripPrefix(s"$curCatalog.")
              })
            case "CATALOGS" => listOf("catalog name", catalogs.keys.toSeq)
            case "CONNECTIONS" =>
              listOf("connection name", connections.keys.toSeq)
            case "MODULES" =>
              // used modules in resolution order, not sorted
              onResult(metaDf(spark, Seq("module name" -> StringType),
                usedModules.map(n => Seq[Any](n))))
            case "JARS" =>
              // SHOW JARS (jar.md): added jars in add order
              onResult(metaDf(spark, Seq("jars" -> StringType),
                sessionJars.toSeq.map(j => Seq[Any](j))))
            case "FULL" =>
              require(p.ident().equalsIgnoreCase("MODULES"),
                "SHOW FULL supports only SHOW FULL MODULES")
              onResult(metaDf(spark,
                Seq("module name" -> StringType, "used" -> BooleanType),
                modules.toSeq.map(n =>
                  Seq[Any](n, usedModules.contains(n)))))
            case "COLUMNS" =>
              // SHOW COLUMNS FROM|IN t [[NOT] LIKE 'p']
              // (dql/SqlShowColumns.java) — the DESCRIBE six-column
              // shape, filterable by column name
              require(p.opt("FROM") || p.opt("IN"),
                "SHOW COLUMNS needs FROM or IN <table>")
              val name = p.ident()
              val spec = catalog.getOrElse(name,
                throw new IllegalArgumentException(
                  s"SHOW COLUMNS of unknown table $name"))
              val f = likeFilter()
              onResult(describeDf(spark, spec,
                spec.columns.filter(c => f(c.name))))
            case "CURRENT" =>
              val which = p.ident().toUpperCase
              which match {
                case "CATALOG" =>
                  onResult(metaDf(spark,
                    Seq("current catalog name" -> StringType),
                    Seq(Seq[Any](curCatalog))))
                case "DATABASE" =>
                  onResult(metaDf(spark,
                    Seq("current database name" -> StringType),
                    Seq(Seq[Any](curDatabase))))
                case other => throw new IllegalArgumentException(
                  s"SHOW CURRENT $other (want CATALOG or DATABASE)")
              }
            case "JOBS" =>
              // SHOW JOBS (SqlShowJobs) — the streaming runner's live
              // queries; empty in batch mode
              onResult(metaDf(spark,
                Seq("job id" -> StringType, "job name" -> StringType,
                  "status" -> StringType),
                onListJobs()))
            case "PARTITIONS" =>
              // SHOW PARTITIONS t (dql/SqlShowPartitions.java) — the
              // hive-style partition specs present on disk
              val name = p.ident()
              val spec = catalog.getOrElse(name,
                throw new IllegalArgumentException(
                  s"SHOW PARTITIONS of unknown table $name"))
              val keys = spec.options.getOrElse("partition-keys",
                throw new IllegalArgumentException(
                  s"$name is not partitioned")).split(",").map(_.trim)
              def walk(dir: java.io.File, depth: Int): Seq[String] =
                if (depth == keys.length) Seq("")
                else Option(dir.listFiles()).toSeq.flatten
                  .filter(f => f.isDirectory &&
                    f.getName.startsWith(s"${keys(depth)}="))
                  .flatMap(d => walk(d, depth + 1).map(rest =>
                    if (rest.isEmpty) d.getName else s"${d.getName}/$rest"))
              onResult(metaDf(spark, Seq("partition name" -> StringType),
                walk(new java.io.File(spec.path), 0).sorted
                  .map(s => Seq[Any](s))))
            case "FUNCTIONS" =>
              listOf("function name", spark.catalog.listFunctions()
                .collect().map(_.name).toSeq)
            case "PROCEDURES" =>
              // SHOW PROCEDURES [(FROM | IN) cat.db] [[NOT] LIKE 'p']
              // (utility/show.md; SqlShowProcedures.java) — lists the
              // registry, scoped to the named db's entries when given
              val scoped =
                if (p.opt("FROM") || p.opt("IN")) {
                  var ns = p.ident()
                  while (p.opt(".")) ns = ns + "." + p.ident()
                  procedures.keys.toSeq.filter { k =>
                    val parts = k.split('.')
                    parts.length >= 2 &&
                      (ns == parts.init.mkString(".") || ns == parts.init.last)
                  }.map(_.split('.').last)
                } else procedures.keys.toSeq.map(_.split('.').last)
              listOf("procedure name", scoped.distinct.sorted)
            case "CREATE" =>
              // SHOW CREATE TABLE | MATERIALIZED TABLE | MODEL |
              // CONNECTION — reconstruct runnable DDL text
              // (dql/SqlShowCreate*.java family)
              def emit(ddl: String): Unit = onResult(metaDf(spark,
                Seq("result" -> StringType), Seq(Seq[Any](ddl))))
              if (p.opt("MATERIALIZED")) {
                p.eat("TABLE")
                val name = p.ident()
                val spec = catalog.get(name)
                  .filter(_.options.contains(MtQueryOpt))
                  .getOrElse(throw new IllegalArgumentException(
                    s"$name is not a materialized table"))
                emit(showCreateMaterialized(spec))
              } else if (p.opt("MODEL")) {
                val name = p.ident()
                val spec = modelCatalog.getOrElse(name,
                  throw new IllegalArgumentException(
                    s"SHOW CREATE MODEL of unknown model $name"))
                val io =
                  if (spec.inputs.isEmpty) ""
                  else s"\nINPUT (${spec.inputs.map { case (n, t) =>
                    s"`$n` ${t.sql}" }.mkString(", ")})" +
                    s"\nOUTPUT (${spec.outputs.map { case (n, t) =>
                      s"`$n` ${t.sql}" }.mkString(", ")})"
                emit(s"CREATE MODEL `${spec.name}`$io\nWITH (\n" +
                  spec.options.toSeq.sortBy(_._1).map { case (k, v) =>
                    s"  '$k' = '$v'" }.mkString(",\n") + "\n)")
              } else if (p.opt("CONNECTION")) {
                val name = p.ident()
                val opts = connections.getOrElse(name,
                  throw new IllegalArgumentException(
                    s"SHOW CREATE CONNECTION of unknown connection $name"))
                emit(s"CREATE CONNECTION `$name`\nWITH (\n" +
                  opts.toSeq.sortBy(_._1).map { case (k, v) =>
                    s"  '$k' = '$v'" }.mkString(",\n") + "\n)")
              } else {
                p.eat("TABLE")
                val name = p.ident()
                val spec = catalog.getOrElse(name,
                  throw new IllegalArgumentException(
                    s"SHOW CREATE TABLE of unknown table $name"))
                emit(showCreateTable(spec))
              }
            case other => throw new IllegalArgumentException(
              s"SHOW $other is not supported (TABLES, VIEWS, MODELS, " +
                "DATABASES, CATALOGS, CONNECTIONS, FUNCTIONS, JOBS, " +
                "CURRENT CATALOG/DATABASE, CREATE TABLE)")
          }
        case "DESCRIBE" | "DESC" =>
          val p = new FlinkSql.P(toks, stmt)
          p.next()
          if (p.opt("MODEL")) {
            // DESCRIBE MODEL m (dql/SqlRichDescribeModel.java) — the
            // declared INPUT/OUTPUT columns with their role
            val name = p.ident()
            val spec = modelCatalog.getOrElse(name,
              throw new IllegalArgumentException(
                s"DESCRIBE of unknown model $name"))
            onResult(metaDf(spark,
              Seq("name" -> StringType, "type" -> StringType,
                "role" -> StringType),
              spec.inputs.map { case (n, t) =>
                Seq[Any](n, t.sql, "INPUT") } ++
                spec.outputs.map { case (n, t) =>
                  Seq[Any](n, t.sql, "OUTPUT") }))
          } else if (p.opt("CATALOG")) {
            // DESCRIBE CATALOG c (dql/SqlDescribeCatalog.java)
            val name = p.ident()
            require(catalogs.contains(name), s"unknown catalog $name")
            onResult(metaDf(spark,
              Seq("info name" -> StringType, "info value" -> StringType),
              Seq(Seq[Any]("name", name),
                Seq[Any]("type", catalogs(name)
                  .getOrElse("type", "generic_in_memory")))))
          } else if (p.opt("DATABASE")) {
            // DESCRIBE DATABASE [cat.]db (dql/SqlDescribeDatabase.java)
            val n1 = p.ident()
            val (cat, db) =
              if (p.opt(".")) (n1, p.ident()) else (curCatalog, n1)
            require(databases.contains(s"$cat.$db"),
              s"unknown database $cat.$db")
            onResult(metaDf(spark,
              Seq("info name" -> StringType, "info value" -> StringType),
              Seq(Seq[Any]("name", db), Seq[Any]("catalog", cat))))
          } else if (p.opt("CONNECTION")) {
            // DESCRIBE CONNECTION c (dql/SqlRichDescribeConnection.java)
            // — option keys only; values stay hidden (credentials)
            val name = p.ident()
            val opts = connections.getOrElse(name,
              throw new IllegalArgumentException(
                s"unknown connection $name"))
            onResult(metaDf(spark,
              Seq("option key" -> StringType),
              opts.keys.toSeq.sorted.map(k => Seq[Any](k))))
          } else if (p.opt("JOB")) {
            // DESCRIBE JOB 'id' (dql/SqlDescribeJob.java) — one row of
            // the SHOW JOBS shape, matched by id or job name
            val id = unquote(p.next().s)
            val job = onListJobs().find(j =>
              j.headOption.contains(id) || j.lift(1).contains(id))
              .getOrElse(throw new IllegalArgumentException(
                s"DESCRIBE JOB '$id': unknown job"))
            onResult(metaDf(spark,
              Seq("job id" -> StringType, "job name" -> StringType,
                "status" -> StringType), Seq(job)))
          } else {
            p.opt("TABLE")
            val name = p.ident()
            val spec = catalog.getOrElse(name,
              throw new IllegalArgumentException(
                s"DESCRIBE of unknown table $name"))
            onResult(describeDf(spark, spec, spec.columns))
          }
        case "EXPLAIN" =>
          // EXPLAIN [PLAN FOR | <details> ] query — the detail list
          // (dql/SqlRichExplain.java: ESTIMATED_COST, CHANGELOG_MODE,
          // JSON_EXECUTION_PLAN, PLAN_ADVICE) maps onto Spark's explain
          // modes: ESTIMATED_COST → cost mode, JSON_EXECUTION_PLAN →
          // formatted physical plan, CHANGELOG_MODE / PLAN_ADVICE →
          // simple (the plan carries no separate changelog annotation
          // here — graft changelogs are explicit __rowkind columns)
          val p = new FlinkSql.P(toks, stmt)
          p.eat("EXPLAIN")
          if (p.opt("PLAN")) p.eat("FOR")
          val details = Set("ESTIMATED_COST", "CHANGELOG_MODE",
            "JSON_EXECUTION_PLAN", "PLAN_ADVICE")
          var mode: org.apache.spark.sql.execution.ExplainMode =
            org.apache.spark.sql.execution.SimpleMode
          var go = details(p.peek)
          while (go) {
            p.ident().toUpperCase match {
              case "ESTIMATED_COST" =>
                mode = org.apache.spark.sql.execution.CostMode
              case "JSON_EXECUTION_PLAN" =>
                mode = org.apache.spark.sql.execution.FormattedMode
              case _ => () // CHANGELOG_MODE / PLAN_ADVICE: simple plan
            }
            go = p.opt(",") && details(p.peek)
          }
          val q = stmt.substring(p.toks(p.i).start)
          val plan = FlinkSql.sql(spark, q, tables(), models())
            .queryExecution.explainString(mode)
          onResult(metaDf(spark, Seq("plan" -> StringType),
            Seq(Seq[Any](plan))))
        case "DROP" =>
          val p = new FlinkSql.P(toks, stmt)
          p.eat("DROP"); p.opt("TEMPORARY")
          if (p.opt("MATERIALIZED")) { p.eat("TABLE")
            p.opt("IF"); p.opt("EXISTS")
            val name = p.ident()
            onMtAlter(name, MtDrop)
            catalog.remove(name) }
          else if (p.opt("TABLE")) { p.opt("IF"); p.opt("EXISTS")
            catalog.remove(p.ident()).foreach(s =>
              // drop the ANALYZE stats-carrier entry with its table
              s.options.get(AnalyzedOpt).foreach(b =>
                spark.sql(s"DROP TABLE IF EXISTS `$b`"))) }
          else if (p.opt("MODEL")) { p.opt("IF"); p.opt("EXISTS")
            modelCatalog.remove(p.ident()) }
          else if (p.opt("CATALOG")) { p.opt("IF"); p.opt("EXISTS")
            val name = p.ident()
            require(name != curCatalog, s"cannot drop the catalog in use")
            require(name != "default_catalog", "cannot drop default_catalog")
            catalogs.remove(name)
            databases.filterInPlace(!_.startsWith(s"$name.")) }
          else if (p.opt("DATABASE")) { p.opt("IF"); p.opt("EXISTS")
            val n1 = p.ident()
            val (cat, db) =
              if (p.opt(".")) (n1, p.ident()) else (curCatalog, n1)
            require(!(cat == curCatalog && db == curDatabase),
              "cannot drop the database in use")
            require(db != "default_database",
              "cannot drop a default_database")
            databases.remove(s"$cat.$db") }
          else if (p.opt("CONNECTION")) { p.opt("IF"); p.opt("EXISTS")
            connections.remove(p.ident()) }
          else if (p.opt("SYSTEM") || p.peek.equalsIgnoreCase("FUNCTION")) {
            p.eat("FUNCTION"); p.opt("IF"); p.opt("EXISTS")
            var name = p.ident()
            while (p.opt(".")) name = p.ident()
            spark.sessionState.catalog.dropTempFunction(
              name, ignoreIfNotExists = true) }
          else { p.eat("VIEW"); p.opt("IF"); p.opt("EXISTS")
            spark.catalog.dropTempView(p.ident()) }
        case _ => onQuery(stmt)
      }
    }
  }

  // -------------------------------------------------------- source/sink

  /** Materialize a registered table as a batch DataFrame: physical read,
    * then computed columns in declared order. */
  def sourceDf(spark: SparkSession, spec: TableSpec): DataFrame = {
    val base = spec.connector match {
      case "filesystem" => fsRead(spark, spec)
      case "datagen" => datagen(spark, spec)
      case "jdbc" => jdbcRead(spark, spec)
      case other => throw new IllegalArgumentException(
        s"unsupported source connector '$other' for table ${spec.name}")
    }
    withDerived(base, spec)
  }

  /** Streaming face: same recipe via `readStream`, with the declared
    * watermark applied (`WATERMARK FOR c AS c - INTERVAL …` →
    * `withWatermark(c, delay)`). The `datagen` connector streams through
    * Spark's rate source — the rate stream's monotone `value` drives the
    * SAME deterministic per-row generators as the batch face, so a
    * row's content depends only on its sequence number, not on timing. */
  def streamingSource(spark: SparkSession, spec: TableSpec): DataFrame = {
    val derived = spec.connector match {
      case "filesystem" if StreamingCdc.isCdcFormat(spec.format) =>
        // CDC envelope stream (VERDICT r17 task 2): decode to the graft
        // changelog (value columns + __rowkind/__seq + hidden __sign);
        // [[StreamingCdc.start]] consumes the metadata columns, computed
        // columns apply post-decode
        val physical = StructType(spec.columns.collect {
          case ColumnSpec(n, Some(t), _, false, _) => StructField(n, t)
        })
        val log = StreamingCdc.decode(
          spark.readStream.text(spec.path), spec.format, physical)
        spec.columns.foldLeft(log) {
          case (df, ColumnSpec(n, _, Some(e), _, _)) =>
            df.withColumn(n, expr(e))
          case (df, _) => df
        }
      case "filesystem" =>
        val physical = StructType(spec.columns.collect {
          case ColumnSpec(n, Some(t), _, false, _) => StructField(n, t)
        })
        withDerived(
          spark.readStream.format(spec.format).schema(physical)
            .load(spec.path),
          spec)
      case "datagen" =>
        val rps = spec.options.getOrElse("rows-per-second", "1000")
        val base = spark.readStream.format("rate")
          .option("rowsPerSecond", rps).load()
          .withColumnRenamed("value", "__seq")
        withDerived(base.select(datagenCols(spec, base): _*), spec)
      case other => throw new IllegalArgumentException(
        s"streaming source supports filesystem and datagen connectors, " +
          s"not '$other'")
    }
    spec.watermark.fold(derived)(w => derived.withWatermark(w.col, w.delay))
  }

  private def withDerived(base: DataFrame, spec: TableSpec): DataFrame = {
    val physical = spec.columns.collect {
      case ColumnSpec(n, Some(t), _, false, _) => n -> t }
    // keep only declared physical columns (schema projection, so column
    // pruning starts from the declared shape) and cast each to its declared
    // type — the declaration wins over what the file happens to store, as in
    // the reference's connector schema contract. Casts are a no-op when the
    // file already matches, so pushdown/pruning are unaffected.
    // filesystem metadata columns read the hidden `_metadata` struct —
    // carry it through the projection, drop it at the end
    val needsMeta = spec.connector == "filesystem" &&
      spec.columns.exists(c => c.isMetadata)
    val projected =
      if (physical.nonEmpty &&
          physical.forall { case (n, _) =>
            base.columns.exists(_.equalsIgnoreCase(n)) })
        base.select(physical.map { case (n, t) =>
          val c = col(n)
          if (base.schema.exists(f =>
              f.name.equalsIgnoreCase(n) && f.dataType == t)) c
          else c.cast(t).as(n)
        } ++ (if (needsMeta) Seq(col("_metadata")) else Nil): _*)
      else base // datagen already emits exactly the declared columns
    val derived = spec.columns.foldLeft(projected) {
      case (df, ColumnSpec(n, _, Some(e), _, _)) => df.withColumn(n, expr(e))
      case (df, ColumnSpec(n, Some(t), _, true, key)) =>
        df.withColumn(n, metadataValue(spec, key.getOrElse(n)).cast(t))
      case (df, _) => df
    }
    if (needsMeta) derived.drop("_metadata") else derived
  }

  /** A METADATA column's value expression — the reference's readable
    * filesystem metadata keys (FileSystemTableSource.ReadableFileInfo:
    * `file.path`, `file.name`, `file.size`, `file.modification-time`)
    * mapped onto Spark's `_metadata` pseudo-column (available on batch
    * AND streaming file scans; no extra I/O — the values come from the
    * split, exactly like the reference's FileInfoAccessor). `file.path`
    * strips the URI scheme to match the reference's Path.getPath shape
    * (single-authority local/posix paths). Non-filesystem connectors and
    * unknown keys surface NULL, the reference's unsupported-metadata
    * behavior for optional keys. */
  private def metadataValue(spec: TableSpec, key: String): Column =
    if (spec.connector != "filesystem") lit(null)
    else key match {
      case "file.path" =>
        regexp_replace(col("_metadata.file_path"),
          "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")
      case "file.name" => col("_metadata.file_name")
      case "file.size" => col("_metadata.file_size")
      case "file.modification-time" =>
        col("_metadata.file_modification_time")
      case _ => lit(null)
    }

  private def fsRead(spark: SparkSession, spec: TableSpec): DataFrame = {
    val physical = StructType(spec.columns.collect {
      case ColumnSpec(n, Some(t), _, false, _) => StructField(n, t)
    })
    // an ANALYZEd table reads through its session-catalog backing entry
    // so the computed statistics (row count, column stats) reach
    // Catalyst's cost model — the reference's TpcdsStatsProvider path
    spec.options.get(AnalyzedOpt).foreach { backed =>
      if (spark.catalog.tableExists(backed))
        return spark.table(backed)
    }
    spec.format match {
      case fmt if StreamingCdc.isCdcFormat(fmt) =>
        // CDC envelope formats (VERDICT r17 task 2; ref debezium.md): the
        // bounded log folds to FINAL TABLE STATE on the PRIMARY KEY
        // (keep-last by envelope timestamp, deletes dropped) — a batch
        // query over a CDC table sees the table, not the envelope rows
        require(spec.primaryKey.nonEmpty,
          s"Table '${spec.name}' with format '$fmt' needs a PRIMARY KEY " +
            "— a CDC changelog has no upsert identity without one")
        graft.changelog.UpsertMaterialize(
          StreamingCdc.withArrivalSeq(StreamingCdc.decodeBatch(
            spark.read.text(spec.path), fmt, physical)),
          spec.primaryKey)
      case "parquet" | "orc" | "avro" =>
        // self-describing formats: trust the files, project to declaration
        // (avro resolves through graft.sources.AvroSource)
        spark.read.format(spec.format).load(spec.path)
      case "csv" =>
        spark.read.options(Map(
            "header" -> spec.options.getOrElse("csv.include-header", "false"),
            "sep" -> spec.options.getOrElse("csv.field-delimiter", ",")))
          .schema(physical).csv(spec.path)
      case "json" => spark.read.schema(physical).json(spec.path)
      case other => throw new IllegalArgumentException(
        s"unsupported filesystem format '$other'")
    }
  }

  /** JDBC scan via Spark's native jdbc source (predicate pushdown and
    * column pruning reach the store). Flink option names
    * (`'url'`, `'table-name'`, `'driver'`, `'username'`, `'password'` —
    * the flink-connector-jdbc surface) map onto Spark's reader options;
    * `withDerived` then projects onto the declared column names, which
    * also normalizes stores that report upper-cased identifiers. */
  private def jdbcRead(spark: SparkSession, spec: TableSpec): DataFrame = {
    graft.sources.JdbcLookupClient.quietDerby()
    val url = spec.options.getOrElse("url", throw new IllegalArgumentException(
      s"jdbc table ${spec.name} needs a 'url' option"))
    val reader = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", spec.options.getOrElse("table-name", spec.name))
    val withOpt = Seq(
      "driver" -> "driver", "username" -> "user", "password" -> "password")
      .foldLeft(reader) { case (r, (flinkKey, sparkKey)) =>
        spec.options.get(flinkKey).fold(r)(v => r.option(sparkKey, v))
      }
    withOpt.load()
  }

  /** Deterministic datagen: `'number-of-rows'`, per-field
    * `'fields.<f>.kind'` = `sequence` (`.start`/`.end`) | `random`
    * (`.min`/`.max`, md5-hash pseudo-random — reproducible across runs and
    * partitionings, which a true RNG is not). */
  private def datagen(spark: SparkSession, spec: TableSpec): DataFrame = {
    val rows = spec.options.getOrElse("number-of-rows", "1000").toLong
    val base = spark.range(rows).toDF("__seq")
    base.select(datagenCols(spec, base): _*)
  }

  /** Per-field generator columns over a `__seq` sequence column — shared
    * by the batch (`spark.range`) and streaming (rate source) faces. */
  private def datagenCols(
      spec: TableSpec,
      base: DataFrame): Seq[org.apache.spark.sql.Column] =
    spec.columns.collect { case ColumnSpec(n, Some(t), _, false, _) =>
      val kind = spec.options.getOrElse(s"fields.$n.kind", "random")
      val c = kind match {
        case "sequence" =>
          val start = spec.options.getOrElse(s"fields.$n.start", "0").toLong
          (col("__seq") + lit(start)).cast(t)
        case "random" =>
          val min = spec.options.getOrElse(s"fields.$n.min", "0").toLong
          val max = spec.options.getOrElse(s"fields.$n.max", "10000").toLong
          (lit(min) + pmod(xxhash64(concat_ws(":", lit(spec.name), lit(n),
            col("__seq"))), lit(max - min + 1))).cast(t)
        case other => throw new IllegalArgumentException(
          s"unsupported datagen kind '$other' for field $n")
      }
      c.as(n)
    }

  /** Align a query result to the sink's declared physical schema, casting
    * to declared types. Changelog columns (`__rowkind`, `__seq` and the
    * CDC tiers' hidden `__sign` / `__live`) the sink does not declare are
    * not query values: those named in `keep` follow the declared columns,
    * the rest drop. A sink that declares no physical columns takes the
    * result as it is. */
  private[sql] def alignToSink(
      spec: TableSpec,
      df: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val sources = sinkSources(spec, df)
    if (sources.isEmpty) df
    else df.select(sources.map { case (n, t, c) => col(c).cast(t).as(n) }
      ++ keep.map(col): _*)
  }

  private val ChangelogCols = Set(graft.changelog.RowKind.kindCol,
    graft.changelog.RowKind.seqCol, StreamingCdc.SignCol, StreamingCdc.LiveCol)

  /** Each declared sink column (name, type) with the query column that
    * feeds it: by name when every declared column names a query value
    * column, positionally otherwise. */
  private def sinkSources(spec: TableSpec, df: DataFrame)
      : Seq[(String, DataType, String)] = {
    val declared = spec.columns.collect {
      case ColumnSpec(n, Some(t), _, false, _) => (n, t) }
    val values = df.columns.filterNot(c => ChangelogCols(c) &&
      !declared.exists(_._1.equalsIgnoreCase(c)))
    val byName = declared.forall { case (n, _) =>
      values.exists(_.equalsIgnoreCase(n)) }
    require(byName || values.length == declared.size,
      s"INSERT into ${spec.name}: query has ${values.length} columns, " +
        s"sink declares ${declared.size}")
    declared.zipWithIndex.map { case ((n, t), i) =>
      (n, t, if (byName) values.find(_.equalsIgnoreCase(n)).get
             else values(i))
    }
  }

  /** The query columns (lowercased) that [[alignToSink]] maps onto the
    * sink's PRIMARY KEY. */
  private[sql] def pkSources(spec: TableSpec, df: DataFrame): Set[String] = {
    val sources = sinkSources(spec, df)
    spec.primaryKey.map(p => sources.collectFirst {
      case (n, _, c) if n.equalsIgnoreCase(p) => c }.getOrElse(p))
      .map(_.toLowerCase).toSet
  }

  /** Changelog-mode inference: is this streaming plan APPEND-only, or does
    * it produce updates? The reference decides this during planning
    * (`FlinkChangelogModeInferenceProgram.scala` walks the physical plan
    * deriving each node's ChangelogMode; `StreamExecSink.java:137` then
    * picks append vs upsert materialization). Here Spark's own streaming
    * checker is the decision oracle — it encodes exactly the "does this
    * plan revise emitted results?" rule (unwindowed aggregates, aggregates
    * past the watermark-append boundary, …), so a plan it accepts under
    * Append streams as-is and anything else is an updating query. */
  private def modeOk(
      df: DataFrame,
      mode: org.apache.spark.sql.streaming.OutputMode): Boolean =
    try {
      org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker
        .checkForStreaming(df.queryExecution.analyzed, mode)
      true
    } catch {
      case _: org.apache.spark.sql.AnalysisException => false
    }

  private[sql] def isAppendCapable(df: DataFrame): Boolean =
    modeOk(df, org.apache.spark.sql.streaming.OutputMode.Append())

  /** Keys can EXIT this plan's result: a Filter or Limit sits above a
    * streaming Aggregate, so a key present in one micro-batch's output
    * can vanish from a later one (e.g. `HAVING COUNT(*) < 3` once the
    * count crosses 3). Spark's Update output mode never re-emits or
    * retracts such keys — the row silently stays stale in an upsert sink
    * — while the reference emits `-D` for it
    * (`FlinkChangelogModeInferenceProgram`'s updateKind derivation). Such
    * plans must materialize by whole-result replacement. Conservative on
    * purpose: a HAVING over pure grouping keys cannot flip, but proving
    * attribute provenance through intermediate Projects is not worth the
    * correctness risk — complete mode is always right, just more I/O. */
  private def keysCanExit(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def walk(p: LogicalPlan, guardAbove: Boolean): Boolean = p match {
      case f: Filter => walk(f.child, guardAbove = true)
      case l: GlobalLimit => walk(l.child, guardAbove = true)
      case l: LocalLimit => walk(l.child, guardAbove = true)
      case a: Aggregate if guardAbove && a.isStreaming => true
      case other => other.children.exists(walk(_, guardAbove))
    }
    walk(plan, guardAbove = false)
  }

  /** Resolve a streaming plan's changelog mode, the reference's
    * `FlinkChangelogModeInferenceProgram` ladder re-expressed over Spark's
    * output modes: "append" (insert-only), "update" (revises per-key rows
    * — sink upserts on its PRIMARY KEY), or "complete" (revises the WHOLE
    * result — e.g. `GROUP BY … ORDER BY … LIMIT n`, the reference's
    * streaming Top-N/rank tier, where a new entrant displaces rows of
    * OTHER keys, so per-key upserting cannot express the change and the
    * sink truncate-replaces). Plans legal in several modes take the
    * cheapest-I/O one (append < update < complete) — EXCEPT when keys can
    * exit the result ([[keysCanExit]]): Update mode cannot express a
    * key's disappearance, so those route to complete even when Spark
    * would accept them in update. A plan legal in none resolves to
    * "append" so the sink's start() surfaces Spark's own error naming
    * the real limitation (not a misleading add-a-PRIMARY-KEY hint). */
  private[sql] def changelogMode(df: DataFrame): String = {
    import org.apache.spark.sql.streaming.OutputMode._
    if (isAppendCapable(df)) "append"
    else if (modeOk(df, Update()) &&
      !keysCanExit(df.queryExecution.analyzed)) "update"
    else if (modeOk(df, Complete())) "complete"
    else "append"
  }

  private def noLegalMode(df: DataFrame): Boolean = {
    import org.apache.spark.sql.streaming.OutputMode._
    !modeOk(df, Append()) && !modeOk(df, Update()) && !modeOk(df, Complete())
  }

  /** Hidden boolean carrying a stripped exit-filter's condition. */
  private val KeepCol = "__keep"

  /** Incremental materialization for un-LIMITed key-exit shapes (VERDICT
    * r17 task 3; ref `SinkUpsertMaterializer.java:64` — the reference
    * emits incremental -D/+I through the retract sink for a HAVING over
    * an updating aggregate, never a whole-result rewrite): rewrite
    * `Project* > Filter(cond) > …streaming Aggregate…` into the SAME plan
    * with the Filter REPLACED by a `__keep = cond` projection, so the
    * query runs in Update output mode — per micro-batch Spark emits only
    * the CHANGED groups, each tagged with whether it now passes the
    * HAVING. The sink MERGE upserts passing groups and DELETEs exited
    * ones: I/O per batch is O(changed groups), not O(all passing groups),
    * which is what makes a 10^6-group HAVING stream viable. `ORDER BY …
    * LIMIT n` shapes have a Limit above the aggregate, never match here,
    * and keep whole-result complete mode (bounded by construction).
    * Returns None when the plan is not the shape (caller falls back to
    * complete-mode truncate-replace, which is always correct). */
  private def stripExitFilter(df: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical._
    def hasStreamingAgg(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate if a.isStreaming => a }.isDefined
    // ANOTHER Filter still sits between here and the streaming aggregate
    // (e.g. an outer WHERE over a subquery with its own HAVING): stripping
    // only the topmost filter would leave the inner one in the Update-mode
    // plan — groups exiting via THAT predicate would never emit a -D and
    // stay permanently stale in the sink (review r18). Such shapes keep
    // complete mode, which is always correct.
    def innerFilterAboveAgg(p: LogicalPlan): Boolean =
      p.collectFirst {
        case fl: Filter if hasStreamingAgg(fl.child) => fl }.isDefined
    def keepAttr(p: LogicalPlan): Attribute =
      p.output.find(_.name == KeepCol).get
    def walk(p: LogicalPlan): Option[LogicalPlan] = p match {
      case pr: Project => walk(pr.child).map(c =>
        Project(pr.projectList :+ keepAttr(c), c))
      case f: Filter
          if hasStreamingAgg(f.child) && !innerFilterAboveAgg(f.child) =>
        Some(Project(f.child.output :+ Alias(f.condition, KeepCol)(),
          f.child))
      case _ => None
    }
    walk(df.queryExecution.analyzed)
      .map(org.apache.spark.sql.GraftPlans.ofRows(df.sparkSession, _))
      // the unfiltered aggregate must itself be update-legal — otherwise
      // (e.g. a filter over a rank-like construct) complete mode stands
      .filter(modeOk(_, org.apache.spark.sql.streaming.OutputMode.Update()))
  }

  /** Test hook: per-batch MERGE input row count, (sink name, rows) — lets
    * specs assert the incremental tiers write O(delta), not O(result).
    * Counting costs a pass over the (small) batch, so it only runs when a
    * spec installs a probe. */
  private[graft] var onMergeBatch: Option[(String, Long) => Unit] = None

  /** The reference's streaming Top-N tier (`StreamExecRank`, docs
    * `topn.md`): a `ROW_NUMBER() OVER (…) … WHERE rn <= N` idiom over a
    * streaming input. Spark rejects window functions in every streaming
    * output mode, so the statement is split at the rank boundary
    * ([[StreamingRank]]): the CHILD runs as the continuous query and the
    * rank+filter section applies per micro-batch as batch SQL. Two
    * materialization tiers, by the child's own changelog mode:
    *
    *   - child complete-capable (an updating aggregate — the reference's
    *     "rank over an updating input", RetractableTopNFunction): each
    *     batch carries the child's WHOLE state; rank it, filter, atomic
    *     truncate-replace into the sink. Stateless and replay-idempotent.
    *   - child append-only (raw-stream leaderboard,
    *     AppendOnlyTopNFunction) and the outer filter is a monotone
    *     prefix (`rn <= N` / `< N` / `= 1`): keep the CANDIDATE rows — the
    *     child rows still inside the rank bound — in a side store; each
    *     batch ranks candidates ∪ new rows, truncate-replaces the sink
    *     and prunes the store. Closure: under appends a row's rank only
    *     grows, so a row outside the bound can never re-enter — state
    *     stays ≤ N rows per partition, never the whole stream. Sink and
    *     store swaps are each atomic; a crash BETWEEN them replays the
    *     batch against an already-pruned store, which re-derives the
    *     same candidates (ranking is deterministic), so the pair is
    *     replay-idempotent the same way the upsert sink is — the
    *     reference instead keeps this state inside the checkpoint, which
    *     a transactional table format would give the store at scale.
    *
    * Returns None when the text is not the idiom or the child streams in
    * no usable mode — the caller falls through to the normal error. */
  private def startRankSink(
      spark: SparkSession,
      spec: TableSpec,
      query: String,
      tbls: Map[String, DataFrame],
      models: Map[String, graft.ml.ModelProvider])
      : Option[(org.apache.spark.sql.streaming.StreamingQuery, String)] = {
    if (spec.connector != "filesystem") return None
    StreamingRank.split(query).flatMap { rs =>
      val inner = scala.util.Try(
        FlinkSql.sql(spark, rs.innerText, tbls, models)).toOption
        .filter(_.isStreaming)
      inner.flatMap { in =>
        import org.apache.spark.sql.streaming.OutputMode._
        // Crash-safe swaps (ADVICE r17): a crash between the renames
        // leaves the candidate store in .old, which the reader below
        // falls back to. The sink takes its DECLARED format (ADVICE r17:
        // the parquet-only write corrupted csv/json-declared sinks); the
        // .rankstate store is engine-internal and stays parquet.
        def applyOuter(sp: SparkSession, snapshot: DataFrame): DataFrame =
          alignToSink(spec, FlinkSql.sql(sp, rs.outerText,
            Map(StreamingRank.Marker -> snapshot), models))
        if (modeOk(in, Complete())) {
          Some(StreamSink.startSink(spec, in, "complete") { (batch, _) =>
            StreamSink.replace(applyOuter(batch.sparkSession, batch),
              spec.path, spec.format)
          })
        } else if (modeOk(in, Append()) && rs.candidateText.nonEmpty) {
          val stateDir = spec.path + ".rankstate"
          def readState(sp: SparkSession): Option[DataFrame] =
            graft.changelog.FsOps.current(sp, stateDir).map(sp.read.parquet(_))
          Some(StreamSink.startSink(spec, in, "append") { (batch, _) =>
            val sp = batch.sparkSession
            val combined = readState(sp)
              .map(_.unionByName(batch)).getOrElse(batch)
            // both swaps below re-execute the micro-batch plan through
            // `combined` — persist it across the pair (r19, guide §5)
            combined.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              // rank once over candidates ∪ new rows: exact by closure
              val cand = FlinkSql.sql(sp, rs.candidateText.get,
                Map(StreamingRank.Marker -> combined), models)
                .drop(StreamingRank.CandRn)
              StreamSink.replace(applyOuter(sp, combined), spec.path,
                spec.format)
              StreamSink.replace(cand, stateDir, "parquet")
            } finally combined.unpersist(blocking = false)
          })
        } else None
      }
    }
  }

  /** The reference's streaming OVER aggregation tier (r19, VERDICT r18
    * task 4; ref `StreamExecOverAggregate.java:105`, docs `over-agg.md`,
    * `RowTimeRangeBoundedPrecedingFunction.java:56`): Spark rejects
    * window functions in every streaming output mode, so the statement
    * splits at the OVER boundary ([[StreamingOverSql]]) — the CHILD runs
    * as the continuous append query and the per-key event-time-ordered
    * frame applies through the existing
    * [[graft.streaming.StreamingOver]] engine (rows buffer until the
    * watermark passes them, fire in row-time order, per-key state
    * bounded by the frame — the reference's exact state contract). The
    * ORDER BY column must be the child's watermarked rowtime; its
    * declared delay is reused. Unbounded frames need an integral value
    * column (the engine's bit-exact running sums); `ROWS n PRECEDING`
    * supports SUM. Returns None when the text is not the idiom or the
    * child doesn't stream append-only — the caller falls through to the
    * normal error. */
  private def startOverSink(
      spark: SparkSession,
      spec: TableSpec,
      query: String,
      tbls: Map[String, DataFrame],
      models: Map[String, graft.ml.ModelProvider])
      : Option[(org.apache.spark.sql.streaming.StreamingQuery, String)] = {
    if (spec.connector != "filesystem") return None
    StreamingOverSql.split(query).flatMap { os =>
      val inner = scala.util.Try(FlinkSql.sql(spark,
        s"SELECT * FROM ${os.childText}", tbls, models)).toOption
        .filter(_.isStreaming).filter(isAppendCapable)
      inner.flatMap { in =>
        val delayMs: Long = in.queryExecution.analyzed.collectFirst {
          case e: org.apache.spark.sql.catalyst.plans.logical
              .EventTimeWatermark if e.eventTime.name == os.orderCol =>
            e.delay.days * 86400000L + e.delay.microseconds / 1000L
        }.getOrElse(0L)
        val delay = s"$delayMs milliseconds"
        val integral = in.schema.find(_.name.equalsIgnoreCase(os.valCol))
          .exists(f => f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType ||
            f.dataType == org.apache.spark.sql.types.ShortType)
        val overDf: Option[(DataFrame, String)] = os.frame match {
          case StreamingOverSql.RowsPreceding(nr) if os.fn == "SUM" =>
            Some((graft.streaming.StreamingOver(
              in, os.partitionCols, os.orderCol, os.valCol, nr, delay),
              "run_sum"))
          case StreamingOverSql.Unbounded if integral =>
            val prepared = in.withColumn(os.valCol,
              col(os.valCol).cast("long"))
            val runCol = os.fn match {
              case "SUM" => "run_sum"
              case "COUNT" => "run_cnt"
              case "MIN" => "run_min"
              case "MAX" => "run_max"
            }
            Some((graft.streaming.StreamingOver.unboundedMulti(
              prepared, os.partitionCols, os.orderCol, os.valCol, delay),
              runCol))
          case _ => None
        }
        overDf.map { case (df, runCol) =>
          val sel = df.select(os.items.map {
            case StreamingOverSql.Plain(nm, as) => col(nm).as(as)
            case StreamingOverSql.OverCall => col(runCol).as(os.alias)
          }: _*)
          StreamSink.startAppend(spec, alignToSink(spec, sel))
        }
      }
    }
  }

  /** Continuous write of an (aligned) streaming result into a sink table,
    * by its changelog mode ([[changelogMode]]) over the shared sink path
    * ([[StreamSink]], which owns the checkpoint, the upsert target, the
    * PRIMARY-KEY-vs-grouping guard and the writers):
    *
    *   - updating queries (e.g. `INSERT INTO snk SELECT k, COUNT(*) …
    *     GROUP BY k` — the reference's flagship "any query is a
    *     changelog" semantic) take the update-mode tier: each
    *     micro-batch's revised rows MERGE into the sink on its PRIMARY
    *     KEY, the reference's SinkUpsertMaterializer decision made by the
    *     planner rather than the user. A sink without a PRIMARY KEY fails
    *     loudly with the reference's error shape;
    *   - an un-LIMITed key-exit shape (`HAVING` over an updating
    *     aggregate) with a parquet PK sink takes the same tier
    *     INCREMENTALLY: the filter becomes a `__keep` flag on the
    *     unfiltered Update-mode aggregate ([[stripExitFilter]]), so a
    *     batch MERGEs passing groups and DELETEs exited ones;
    *   - every other complete-mode query (the reference's streaming Top-N
    *     tier, `GROUP BY … ORDER BY … LIMIT n`, where a new entrant
    *     displaces rows of OTHER keys, and no-PK HAVING sinks) replaces
    *     the whole sink per micro-batch; no PRIMARY KEY needed;
    *   - append-only queries append files. */
  private def startStreamSink(
      spec: TableSpec,
      aligned: DataFrame): StreamSink.Started = {
    def upsert() = StreamSink.upsertTarget(aligned.sparkSession, spec,
      "an updating query (e.g. an unwindowed aggregate)")
    (spec.connector, changelogMode(aligned)) match {
      case ("filesystem", "update") =>
        StreamSink.startUpdating(spec, aligned, upsert(), lit(true), None)
      case ("filesystem", "complete") =>
        val exitRewrite =
          if (spec.primaryKey.nonEmpty && spec.format == "parquet")
            stripExitFilter(aligned)
          else None
        exitRewrite.fold(StreamSink.startReplace(spec, aligned))(r =>
          StreamSink.startUpdating(spec, r, upsert(), col(KeepCol),
            Some(KeepCol)))
      case ("filesystem", _) => StreamSink.startAppend(spec, aligned)
      case (c @ ("print" | "blackhole"), m) =>
        StreamSink.startWith(spec, aligned, m)(
          _.format(if (c == "print") "console" else "noop"))
      case (other, _) => throw new IllegalArgumentException(
        s"unsupported streaming sink connector '$other' for ${spec.name}")
    }
  }

  /** Recursive copy for the savepoint snapshot (STOP JOB WITH
    * SAVEPOINT): the stopped query's checkpoint tree is copied verbatim
    * — a Structured Streaming checkpoint is self-contained and
    * restart-able from the copy. */
  private def copyTree(
      src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val it = Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** `'128MB' | '1gb' | '64 kb' | '1048576'` → bytes (the reference's
    * MemorySize spellings for `compaction.file-size`). */
  private[sql] def memoryBytes(s: String): Long = {
    val t = s.trim.toLowerCase.replace(" ", "")
    val (num, mult) =
      if (t.endsWith("gb")) (t.dropRight(2), 1L << 30)
      else if (t.endsWith("mb")) (t.dropRight(2), 1L << 20)
      else if (t.endsWith("kb")) (t.dropRight(2), 1L << 10)
      else if (t.endsWith("b")) (t.dropRight(1), 1L)
      else (t, 1L)
    num.toLong * mult
  }

  /** Post-write small-file compaction (FileSystemConnectorOptions
    * `auto-compaction` + `compaction.file-size`): each leaf directory
    * whose data files outnumber ceil(bytes / target) is rewritten
    * coalesced to that count and swapped in — metadata-scale decision,
    * rewrite I/O proportional to the compacted partition only, one leaf
    * at a time (never the whole table at once). */
  private def compactDir(spark: SparkSession, spec: TableSpec): Unit = {
    val target = spec.options.get("compaction.file-size")
      .map(memoryBytes).getOrElse(128L << 20)
    def leaves(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).toSeq.flatten
      val subs = kids.filter(f => f.isDirectory && f.getName.contains("="))
      if (subs.isEmpty) Seq(d) else subs.flatMap(leaves)
    }
    leaves(new java.io.File(spec.path)).foreach { dir =>
      val files = Option(dir.listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
      val bytes = files.map(_.length()).sum
      val desired = math.max(1L, (bytes + target - 1) / target).toInt
      if (files.length > desired) {
        val data = spark.read.format(spec.format).load(dir.getPath)
        val staging = dir.getPath + ".compact"
        data.coalesce(desired).write.mode("overwrite")
          .format(spec.format).save(staging)
        files.foreach(_.delete())
        Option(new java.io.File(staging).listFiles()).toSeq.flatten
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .foreach(f => java.nio.file.Files.move(f.toPath,
            new java.io.File(dir, f.getName).toPath))
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(new java.io.File(staging))
      }
    }
  }

  private def writeSink(
      spark: SparkSession,
      spec: TableSpec,
      df: DataFrame,
      overwrite: Boolean): Unit = {
    val aligned = alignToSink(spec, df)
    spec.connector match {
      case "filesystem" =>
        // sink.parallelism (FactoryUtil.SINK_PARALLELISM) sizes the write
        // when no DISTRIBUTED clause took over the layout
        val sized = spec.options.get("sink.parallelism") match {
          case Some(n) if !spec.options.contains("distribution-keys") &&
              !spec.options.contains("distribution-buckets") =>
            aligned.repartition(n.toInt)
          case _ => aligned
        }
        val w = bucketed(spec, sized).write
          .mode(if (overwrite) "overwrite" else "append")
          .format(spec.format)
        require(spec.format != "avro" ||
          !spec.options.contains("partition-keys"),
          s"table ${spec.name}: PARTITIONED BY is not supported with " +
            "'format'='avro' (the avro source has no partition layout); " +
            "use parquet/orc for partitioned tables")
        spec.options.get("partition-keys") match {
          case Some(keys) => w.partitionBy(keys.split(",").map(_.trim): _*)
            .save(spec.path)
          case None => w.save(spec.path)
        }
        if (spec.options.get("auto-compaction").exists(_.toBoolean))
          compactDir(spark, spec)
      case "jdbc" =>
        graft.sources.JdbcLookupClient.quietDerby()
        val url = spec.options.getOrElse("url",
          throw new IllegalArgumentException(
            s"jdbc table ${spec.name} needs a 'url' option"))
        val w = aligned.write
          .mode(if (overwrite) "overwrite" else "append")
          .format("jdbc")
          .option("url", url)
          .option("dbtable", spec.options.getOrElse("table-name", spec.name))
        Seq("driver" -> "driver", "username" -> "user",
            "password" -> "password")
          .foldLeft(w) { case (wr, (flinkKey, sparkKey)) =>
            spec.options.get(flinkKey).fold(wr)(v => wr.option(sparkKey, v))
          }.save()
      case "print" => aligned.show(numRows = 20, truncate = false)
      case "blackhole" => aligned.foreach(_ => ())
      case other => throw new IllegalArgumentException(
        s"unsupported sink connector '$other' for table ${spec.name}")
    }
  }

  // ----------------------------------------------------------- splitting

  /** Split a script on top-level `;`, keeping `EXECUTE STATEMENT SET
    * BEGIN … END` blocks (which contain `;`) as one statement. The
    * tokenizer has already stripped comments and respects string
    * literals. */
  private[sql] def splitStatements(script: String): Seq[String] = {
    val toks = FlinkSql.tokenize(script)
    val stmts = Seq.newBuilder[String]
    var begin = 0 // token index of the current statement's first token
    var inSet = false
    // a CASE expression's END must not close the statement-set block —
    // track CASE nesting so only the block's own END ends it
    var caseDepth = 0
    var k = 0
    while (k < toks.length) {
      val t = toks(k).up
      if (begin == k && (t == "EXECUTE" || t == "BEGIN")) inSet = true
      if (t == "CASE") caseDepth += 1
      if (t == "END") {
        if (caseDepth > 0) caseDepth -= 1
        else if (inSet) inSet = false
      }
      if (t == ";" && !inSet) {
        if (k > begin)
          stmts += script.substring(toks(begin).start, toks(k - 1).end)
        begin = k + 1
      }
      k += 1
    }
    if (begin < toks.length)
      stmts += script.substring(toks(begin).start, toks.last.end)
    stmts.result()
  }

  /** Extract the INSERT statements from a statement-set block. */
  private[sql] def statementSetInserts(stmt: String): Seq[String] = {
    val toks = FlinkSql.tokenize(stmt)
    val p = new FlinkSql.P(toks, stmt)
    if (p.opt("EXECUTE")) { p.eat("STATEMENT"); p.eat("SET"); p.eat("BEGIN") }
    else { p.eat("BEGIN"); p.eat("STATEMENT"); p.eat("SET"); p.opt(";") }
    val inserts = Seq.newBuilder[String]
    var start = p.i
    var k = p.i
    var caseDepth = 0 // CASE…END nesting, as in splitStatements
    var done = false
    while (k < toks.length && !done) {
      toks(k).up match {
        case "CASE" => caseDepth += 1
        case "END" if caseDepth > 0 => caseDepth -= 1
        case "END" => done = true
        case ";" =>
          if (k > start)
            inserts += stmt.substring(toks(start).start, toks(k - 1).end)
          start = k + 1
        case _ => ()
      }
      if (!done) k += 1
    }
    if (k > start && toks(start).up != "END")
      inserts += stmt.substring(toks(start).start, toks(k - 1).end)
    inserts.result()
  }

  /** `INSERT INTO|OVERWRITE name [(c1, …)] <query>` →
    * (sink, query text with any column list folded into a SELECT, overwrite). */
  /** `INSERT { INTO | OVERWRITE } t [PARTITION (k=v, …)] [(c, …)] query`
    * → (sink, query text, overwrite?, static partition values). The
    * PARTITION clause is the reference's static-partition insert
    * (Parser.tdd RichSqlInsert / SupportsPartitioning): the listed
    * values are constants appended to every row, and with OVERWRITE only
    * the matching partitions are replaced (dynamic partition overwrite),
    * never the whole table. */
  private[sql] def splitInsert(
      stmt: String): (String, String, Boolean, Seq[(String, String)]) = {
    val toks = FlinkSql.tokenize(stmt)
    val p = new FlinkSql.P(toks, stmt)
    p.eat("INSERT")
    val overwrite =
      if (p.opt("OVERWRITE")) true
      else { p.eat("INTO"); false }
    val sink = p.ident()
    val static = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    if (p.opt("PARTITION")) {
      p.eat("(")
      var go = true
      while (go) {
        val k = p.ident(); p.eat("=")
        static += (k -> unquote(p.next().s))
        go = p.opt(",")
      }
      p.eat(")")
    }
    // optional explicit column list — reorder via a wrapping SELECT
    val colList =
      if (p.peek == "(") {
        p.eat("(")
        val cs = scala.collection.mutable.ArrayBuffer(p.ident())
        while (p.opt(",")) cs += p.ident()
        p.eat(")")
        Some(cs.toSeq)
      } else None
    val query = stmt.substring(toks(p.i).start)
    (sink, colList.fold(query)(cs =>
      s"SELECT ${cs.mkString(", ")} FROM (\n$query\n)"), overwrite,
      static.toSeq)
  }

  /** Append an insert's static PARTITION values as constant columns
    * (validated against the sink's declared partition keys). */
  private def withStaticPartition(
      spec: TableSpec,
      df: DataFrame,
      static: Seq[(String, String)]): DataFrame = {
    if (static.isEmpty) return df
    val partKeys = spec.options.getOrElse("partition-keys",
      throw new IllegalArgumentException(
        s"INSERT … PARTITION into ${spec.name}, which is not partitioned"))
      .split(",").map(_.trim)
    static.foreach { case (k, _) => require(
      partKeys.exists(_.equalsIgnoreCase(k)),
      s"$k is not a partition column of ${spec.name} " +
        s"(${partKeys.mkString(", ")})") }
    static.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
  }

  // ----------------------------------------------------- CREATE TABLE

  /** How a `LIKE base` clause merges the base spec into the new table
    * (reference: flink-sql-parser/…/ddl/table/SqlTableLike.java — merging
    * strategies per feature). Defaults mirror the reference: INCLUDING
    * ALL with OVERWRITING OPTIONS (child keys win). */
  private[sql] final case class LikeMerge(
      excludeAll: Boolean = false,
      excludeOptions: Boolean = false,
      excludeWatermarks: Boolean = false,
      excludeConstraints: Boolean = false,
      excludeGenerated: Boolean = false,
      excludePartitions: Boolean = false)

  private[sql] final case class CreateTable(
      spec: TableSpec,
      like: Option[(String, LikeMerge)],
      ctasQuery: Option[String])

  private[sql] def mergeLike(
      child: TableSpec,
      base: TableSpec,
      m: LikeMerge): TableSpec = {
    if (m.excludeAll) return child
    val baseCols = base.columns
      .filterNot(c => m.excludeGenerated && c.computedExpr.isDefined)
      .filterNot(c => child.columns.exists(_.name.equalsIgnoreCase(c.name)))
    val baseOpts =
      if (m.excludeOptions) Map.empty[String, String]
      else if (m.excludePartitions) base.options - "partition-keys"
      else base.options
    child.copy(
      columns = baseCols ++ child.columns,
      watermark = child.watermark.orElse(
        if (m.excludeWatermarks) None else base.watermark),
      primaryKey =
        if (child.primaryKey.nonEmpty) child.primaryKey
        else if (m.excludeConstraints) Nil else base.primaryKey,
      options = baseOpts ++ child.options) // child (OVERWRITING) wins
  }

  /** `[( { INCLUDING | EXCLUDING | OVERWRITING } { ALL | OPTIONS |
    * WATERMARKS | CONSTRAINTS | GENERATED | PARTITIONS } … )]` after
    * `LIKE base`. INCLUDING and OVERWRITING both copy (child overrides on
    * key conflicts — the reference's strict duplicate-key error under
    * INCLUDING OPTIONS is relaxed to overwrite). */
  private def parseLikeClauses(p: FlinkSql.P): LikeMerge = {
    var m = LikeMerge()
    if (p.opt("(")) {
      while (p.peek != ")") {
        val mode = p.ident().toUpperCase
        val what = p.ident().toUpperCase
        require(Set("INCLUDING", "EXCLUDING", "OVERWRITING")(mode),
          s"unknown LIKE merge mode $mode")
        val excl = mode == "EXCLUDING"
        what match {
          case "ALL" => m = m.copy(excludeAll = excl)
          case "OPTIONS" => m = m.copy(excludeOptions = excl)
          case "WATERMARKS" => m = m.copy(excludeWatermarks = excl)
          case "CONSTRAINTS" => m = m.copy(excludeConstraints = excl)
          case "GENERATED" => m = m.copy(excludeGenerated = excl)
          case "PARTITIONS" => m = m.copy(excludePartitions = excl)
          case other => throw new IllegalArgumentException(
            s"unknown LIKE merge feature $other")
        }
        p.opt(",")
      }
      p.eat(")")
    }
    m
  }

  /** `DISTRIBUTED INTO n BUCKETS | DISTRIBUTED BY [HASH|RANGE] (c, …)
    * [INTO n BUCKETS]` (reference grammar: parserImpls.ftl SqlDistribution
    * production, AST SqlDistribution.java:57) → bucketing options on the
    * spec. Spark-first mapping, applied at write time ([[bucketed]]): HASH
    * (the default kind, as in the reference) repartitions on the bucket
    * columns, RANGE range-partitions on them, a bare bucket count
    * round-robins — so each sink file holds one bucket and a downstream
    * reader gets bounded, evenly sized files co-located by key. */
  private def parseDistribution(p: FlinkSql.P): Map[String, String] = {
    if (!p.opt("DISTRIBUTED")) return Map.empty
    def intoBuckets(): Option[String] =
      if (p.opt("INTO")) {
        val n = p.next().s
        require(n.forall(_.isDigit) && n.toInt > 0,
          s"INTO $n BUCKETS: bucket count must be a positive integer")
        p.eat("BUCKETS")
        Some(n)
      } else None
    if (p.peek == "INTO") {
      Map("distribution-buckets" -> intoBuckets().get)
    } else {
      p.eat("BY")
      val kind =
        if (p.opt("HASH")) "hash"
        else if (p.opt("RANGE")) "range"
        else "hash" // unspecified kind is hash, as in the reference
      p.eat("(")
      val ks = scala.collection.mutable.ArrayBuffer(p.ident())
      while (p.opt(",")) ks += p.ident()
      p.eat(")")
      Map("distribution-kind" -> kind,
        "distribution-keys" -> ks.mkString(",")) ++
        intoBuckets().map("distribution-buckets" -> _)
    }
  }

  /** The sink's `'distribution-buckets'`: a positive bucket count. */
  private[sql] def bucketCount(spec: TableSpec): Option[Int] =
    spec.options.get("distribution-buckets").map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"table ${spec.name}: " +
          s"'distribution-buckets' must be a positive integer, got '$v'"))
    }

  /** Apply a spec's DISTRIBUTED clause to a batch or streaming write. */
  private[sql] def bucketed(spec: TableSpec, df: DataFrame): DataFrame = {
    val keys = spec.options.get("distribution-keys")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    (keys, bucketCount(spec)) match {
      case (Nil, None) => df
      case (Nil, Some(n)) => df.repartition(n)
      case (ks, n) if spec.options.get("distribution-kind")
          .contains("range") =>
        n.fold(df.repartitionByRange(ks.map(col): _*))(b =>
          df.repartitionByRange(b, ks.map(col): _*))
      case (ks, n) =>
        n.fold(df.repartition(ks.map(col): _*))(b =>
          df.repartition(b, ks.map(col): _*))
    }
  }

  private def parseCreateTable(
      p: FlinkSql.P,
      stmt: String,
      temporary: Boolean): CreateTable = {
    if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS") }
    val name = p.ident()
    val cols = Seq.newBuilder[ColumnSpec]
    var watermark: Option[WatermarkSpec] = None
    var pk: Seq[String] = Nil
    // the column list is optional: CTAS and pure-LIKE forms omit it
    if (p.opt("(")) parseColumnList(p, stmt, cols,
      watermark = w => watermark = Some(w), pkOut = ks => pk = ks)
    if (p.opt("COMMENT")) p.next()
    val distribution = parseDistribution(p)
    // PARTITIONED BY (c1, …) → the sink writer's partition-keys option
    // (Spark writer .partitionBy → hive-style dirs; reads prune on them)
    var partitionKeys: Seq[String] = Nil
    if (p.opt("PARTITIONED")) {
      p.eat("BY"); p.eat("(")
      val ks = scala.collection.mutable.ArrayBuffer(p.ident())
      while (p.opt(",")) ks += p.ident()
      p.eat(")")
      partitionKeys = ks.toSeq
    }
    // USING CONNECTION conn (reference grammar: parserImpls.ftl CREATE
    // TABLE production; connection DDL SqlCreateConnection.java) — the
    // name is recorded here and the connection's options are merged in
    // by the dispatcher, where the connection registry lives.
    val usingConn =
      if (p.opt("USING")) { p.eat("CONNECTION"); Some(p.ident()) } else None
    val options0 =
      if (p.opt("WITH")) parseOptions(p) else Map.empty[String, String]
    val options = options0 ++ distribution ++
      usingConn.map("connection" -> _)
    val like =
      if (p.opt("LIKE")) {
        val base = p.ident()
        Some((base, parseLikeClauses(p)))
      } else None
    val ctas =
      if (p.opt("AS")) Some(stmt.substring(p.toks(p.i).start)) else None
    val withParts =
      if (partitionKeys.isEmpty) options
      else options + ("partition-keys" -> partitionKeys.mkString(","))
    CreateTable(
      TableSpec(name, cols.result(), watermark, pk, withParts, temporary),
      like, ctas)
  }

  /** Reconstruct runnable `CREATE TABLE` DDL from a registered spec
    * (`SHOW CREATE TABLE`, ShowCreateUtil in the reference): columns in
    * declared order (computed columns as `AS expr`), watermark, primary
    * key, and the WITH options minus the internal materialized-table
    * bookkeeping keys. */
  private[sql] def showCreateTable(spec: TableSpec): String = {
    val colLines = spec.columns.map {
      case ColumnSpec(n, _, Some(e), _, _) => s"  `$n` AS $e"
      case ColumnSpec(n, Some(t), _, true, k) =>
        s"  `$n` ${t.sql} METADATA" +
          k.filterNot(_ == n).map(key => s" FROM '$key'").getOrElse("")
      case ColumnSpec(n, Some(t), _, _, _) => s"  `$n` ${t.sql}"
      case ColumnSpec(n, None, None, _, _) => s"  `$n`"
    } ++
      spec.watermark.map { w =>
        val Array(n, unit) = w.delay.trim.split("\\s+")
        s"  WATERMARK FOR `${w.col}` AS `${w.col}` - " +
          s"INTERVAL '$n' ${unit.stripSuffix("s").toUpperCase}"
      } ++
      (if (spec.primaryKey.isEmpty) Nil
       else Seq(s"  PRIMARY KEY (${spec.primaryKey.map(k => s"`$k`")
         .mkString(", ")}) NOT ENFORCED"))
    val distributed = {
      val keys = spec.options.get("distribution-keys")
        .map(_.split(",").map(_.trim).map(k => s"`$k`").mkString(", "))
      val into = spec.options.get("distribution-buckets")
        .map(n => s" INTO $n BUCKETS").getOrElse("")
      keys match {
        case Some(ks) =>
          val kind = spec.options.getOrElse("distribution-kind", "hash")
            .toUpperCase
          s"\nDISTRIBUTED BY $kind($ks)$into"
        case None if into.nonEmpty => s"\nDISTRIBUTED$into"
        case None => ""
      }
    }
    val partitioned = spec.options.get("partition-keys")
      .map(ks => s"\nPARTITIONED BY (${ks.split(",").map(_.trim)
        .map(k => s"`$k`").mkString(", ")})").getOrElse("")
    val shownOptions = spec.options.removedAll(Seq("partition-keys",
      "distribution-kind", "distribution-keys", "distribution-buckets",
      "database",
      MtQueryOpt, MtFreshnessOpt, MtModeOpt, MtStatusOpt, MtManagedOpt))
    val withClause = shownOptions.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  '$k' = '$v'" }.mkString(",\n")
    s"""CREATE TABLE `${spec.name}` (
       |${colLines.mkString(",\n")}
       |)$distributed$partitioned
       |WITH (
       |$withClause
       |)""".stripMargin
  }

  /** If `stmt` is a CTAS/RTAS — `CREATE [OR REPLACE] [TEMPORARY] TABLE
    * [IF NOT EXISTS] name … AS <query>` — the created table's name.
    * Used by [[StatementSession]] replay: an executed CTAS already wrote
    * its data, so replaying the raw statement would re-run the query and
    * overwrite the sink on every later statement (wiping INSERTs made
    * into the table, retroactively re-deriving from mutated sources).
    * The session degrades it to the plain CREATE TABLE registration via
    * [[showCreateTable]] instead. The `AS` scan runs at paren depth 0 so
    * computed columns (`c AS expr` inside the column list) never match. */
  private[sql] def ctasTarget(stmt: String): Option[String] = {
    val toks = try FlinkSql.tokenize(stmt)
    catch { case _: Exception => return None }
    val p = new FlinkSql.P(toks, stmt)
    if (!p.opt("CREATE")) return None
    if (p.opt("OR") && !p.opt("REPLACE")) return None
    p.opt("TEMPORARY")
    if (!p.opt("TABLE")) return None
    if (p.opt("IF")) { if (!p.opt("NOT") || !p.opt("EXISTS")) return None }
    val name = try p.ident() catch { case _: Exception => return None }
    var depth = 0
    var k = p.i
    while (k < toks.length) {
      val t = toks(k).up
      if (t == "(") depth += 1
      else if (t == ")") depth -= 1
      else if (t == "AS" && depth == 0 && k + 1 < toks.length) {
        val nx = toks(k + 1).up
        if (nx == "SELECT" || nx == "WITH" || nx == "VALUES" ||
            nx == "TABLE" || nx == "(") return Some(name)
      }
      k += 1
    }
    None
  }

  /** Reconstruct runnable `CREATE MATERIALIZED TABLE` DDL
    * (SqlShowCreateMaterializedTable.java): declared columns, partition
    * keys, user WITH options, FRESHNESS / REFRESH_MODE, and the defining
    * query — the bookkeeping option keys stay internal. */
  private[sql] def showCreateMaterialized(spec: TableSpec): String = {
    val colLines = spec.columns.collect {
      case ColumnSpec(n, Some(t), _, _, _) => s"  `$n` ${t.sql}"
      case ColumnSpec(n, None, None, _, _) => s"  `$n`"
    }
    val colBlock =
      if (colLines.isEmpty) "" else s" (\n${colLines.mkString(",\n")}\n)"
    val partitioned = spec.options.get("partition-keys")
      .map(ks => s"\nPARTITIONED BY (${ks.split(",").map(_.trim)
        .map(k => s"`$k`").mkString(", ")})").getOrElse("")
    val shownOptions = spec.options.removedAll(Seq("partition-keys",
      "database", "connection", "sink.checkpoint-dir",
      MtQueryOpt, MtFreshnessOpt, MtModeOpt, MtStatusOpt, MtManagedOpt))
    val withClause =
      if (shownOptions.isEmpty) ""
      else "\nWITH (\n" + shownOptions.toSeq.sortBy(_._1)
        .map { case (k, v) => s"  '$k' = '$v'" }.mkString(",\n") + "\n)"
    val freshness = spec.options.get(MtFreshnessOpt).map { f =>
      val Array(n, unit) = f.trim.split("\\s+")
      s"\nFRESHNESS = INTERVAL '$n' ${unit.stripSuffix("s").toUpperCase}"
    }.getOrElse("")
    val mode = spec.options.get(MtModeOpt)
      .map(m => s"\nREFRESH_MODE = ${m.toUpperCase}").getOrElse("")
    s"CREATE MATERIALIZED TABLE `${spec.name}`$colBlock$partitioned" +
      s"$withClause$freshness$mode\nAS ${spec.options(MtQueryOpt)}"
  }

  // ------------------------------------------------- materialized tables

  /** ALTER MATERIALIZED TABLE actions (SqlAlterMaterializedTable*.java). */
  sealed trait MtAction
  final case class MtRefresh(partition: Map[String, String]) extends MtAction
  case object MtSuspend extends MtAction
  case object MtResume extends MtAction
  final case class MtAsQuery(query: String) extends MtAction
  case object MtDrop extends MtAction

  /** Option keys a materialized table carries on its [[TableSpec]] —
    * definition metadata rides the ordinary catalog so the table is
    * readable/describable like any other. */
  val MtQueryOpt = "materialized.query"
  val MtFreshnessOpt = "materialized.freshness"
  val MtModeOpt = "materialized.refresh-mode"
  val MtStatusOpt = "materialized.status"
  /** Set when no 'path' option was declared (engine-managed storage) —
    * CREATE OR ALTER keeps the existing table's storage in that case. */
  val MtManagedOpt = "materialized.managed-path"

  /** Spec-option key holding the session-catalog table name an ANALYZE
    * registered over this spec's files (stats carrier for the reads). */
  val AnalyzedOpt = "analyze.backing-table"

  /** Parse a compiled-plan manifest: (CREATE statements, the pipeline
    * statement). Jackson (a Spark dependency) reads the JSON. */
  private def readPlanManifest(path: String)
      : (Seq[String], String, Option[String], Map[String, Int]) = {
    val file = new java.io.File(path)
    require(file.exists(), s"EXECUTE PLAN: no plan file at $path")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(file.toPath))
    require(root.path("kind").asText("") == "graft-compiled-plan",
      s"EXECUTE PLAN: $path is not a graft compiled plan")
    val creates = {
      val arr = root.path("tables")
      (0 until arr.size()).map(arr.get(_).asText())
    }
    val st = root.path("statement").asText("")
    require(st.nonEmpty, s"EXECUTE PLAN: $path has no statement")
    val pinned = Option(root.get("physicalPlan")).map(_.asText())
      .filter(_.nonEmpty)
    // absent in pre-r17 manifests → empty map → version check skipped
    val layouts = Option(root.get("stateLayouts")).map { node =>
      import scala.jdk.CollectionConverters._
      node.fields().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
    }.getOrElse(Map.empty[String, Int])
    (creates, st, pinned, layouts)
  }

  /** Operator-shape fingerprint of a query's physical plan: the pre-AQE
    * operator tree as indented node names — expression ids, file paths
    * and statistics stripped, so the SAME catalog and layout fingerprint
    * identically across sessions while an optimizer-strategy change
    * (broadcast↔shuffle, lost pushdown, added exchange) shows up as a
    * diff. */
  private[sql] def planFingerprint(
      spark: SparkSession,
      query: String,
      tables: Map[String, DataFrame],
      models: Map[String, graft.ml.ModelProvider] = Map.empty): String =
    planFingerprintOf(FlinkSql.sql(spark, query, tables, models))

  private[sql] def planFingerprintOf(df: DataFrame): String = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan,
        depth: Int): Seq[String] =
      (("  " * depth) + p.nodeName) +: p.children.flatMap(walk(_, depth + 1))
    walk(df.queryExecution.sparkPlan, 0).mkString("\n")
  }

  /** Would this plan hold OPERATOR STATE when run as a stream? Stateless
    * shapes (project/filter/UDTF chains) hold none — their manifests pin
    * an EMPTY layout set, so an engine state-layout bump never
    * invalidates them (r18 refinement of the engine-epoch pin; see
    * SURVEY §8 adjudication). Judged on the operator SHAPE, not
    * `isStreaming` — COMPILE PLAN compiles against batch frames.
    * Detection is a WHITELIST of stateless nodes — anything unrecognized
    * (aggregates, joins, dedup, limits, stateful maps) counts as
    * stateful, keeping the failure mode on the false-rejection side. */
  private[sql] def holdsOperatorState(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.analyzed.find {
      case _: Project | _: Filter | _: SubqueryAlias | _: View | _: Union |
          _: Generate | _: EventTimeWatermark => false
      case _: LeafNode => false
      case _ => true
    }.isDefined
  }

  /** The documented refresh-mode inference threshold
    * (materialized-table.refresh-mode.freshness-threshold, 30 minutes):
    * freshness below it → CONTINUOUS, at/above → FULL. */
  private val MtContinuousThresholdMs = 30L * 60 * 1000

  private[sql] def intervalMs(interval: String): Long = {
    val Array(n, unit) = interval.trim.split("\\s+")
    val ms = unit.toLowerCase.stripSuffix("s") match {
      case "millisecond" => 1L
      case "second" => 1000L
      case "minute" => 60000L
      case "hour" => 3600000L
      case "day" => 86400000L
      case other =>
        throw new IllegalArgumentException(s"unsupported interval unit $other")
    }
    n.toLong * ms
  }

  /** `CREATE MATERIALIZED TABLE [IF NOT EXISTS] name [(schema…)] [COMMENT]
    * [PARTITIONED BY (…)] [WITH (…)] [FRESHNESS = INTERVAL '<n>' <unit>]
    * [REFRESH_MODE = FULL | CONTINUOUS] AS <select>` — cursor just past
    * TABLE (SqlCreateMaterializedTable.java:55; statements.md grammar).
    * The schema block allows bare column identifiers (rename the query's
    * columns positionally) or typed columns (rename + cast), plus
    * WATERMARK / PRIMARY KEY … NOT ENFORCED entries. Storage defaults to
    * managed parquet under a fresh directory when no 'path' option is
    * given. */
  private def parseCreateMaterialized(
      p: FlinkSql.P,
      stmt: String): (TableSpec, String) = {
    if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS") }
    val name = p.ident()
    val cols = Seq.newBuilder[ColumnSpec]
    var watermark: Option[WatermarkSpec] = None
    var pk: Seq[String] = Nil
    if (p.opt("(")) {
      var more = true
      while (more) {
        p.peek match {
          case "WATERMARK" =>
            p.eat("WATERMARK"); p.eat("FOR")
            val c = p.ident()
            p.eat("AS")
            watermark = Some(parseWatermarkExpr(p, c))
          case "PRIMARY" =>
            p.eat("PRIMARY"); p.eat("KEY"); p.eat("(")
            val ks = scala.collection.mutable.ArrayBuffer(p.ident())
            while (p.opt(",")) ks += p.ident()
            p.eat(")")
            p.eat("NOT"); p.eat("ENFORCED")
            pk = ks.toSeq
          case "CONSTRAINT" =>
            p.eat("CONSTRAINT"); p.ident()
          case _ =>
            val cname = p.ident()
            if (p.peek == "," || p.peek == ")")
              cols += ColumnSpec(cname, None, None) // identifier-only
            else {
              val t = parseType(p)
              if (p.opt("NOT")) p.eat("NULL")
              if (p.opt("COMMENT")) p.next()
              cols += ColumnSpec(cname, Some(t), None)
            }
        }
        more = p.opt(",")
      }
      p.eat(")")
    }
    if (p.opt("COMMENT")) p.next()
    var partitionKeys: Seq[String] = Nil
    if (p.opt("PARTITIONED")) {
      p.eat("BY"); p.eat("(")
      val ks = scala.collection.mutable.ArrayBuffer(p.ident())
      while (p.opt(",")) ks += p.ident()
      p.eat(")")
      partitionKeys = ks.toSeq
    }
    val options =
      if (p.opt("WITH")) parseOptions(p) else Map.empty[String, String]
    var freshness: Option[String] = None
    if (p.opt("FRESHNESS")) {
      p.eat("="); p.eat("INTERVAL")
      val lit = unquote(p.next().s)
      val unit = p.ident().toLowerCase.stripSuffix("s")
      require(Set("second", "minute", "hour", "day")(unit),
        s"FRESHNESS unit must be SECOND/MINUTE/HOUR/DAY, got $unit")
      require(lit.matches("\\d+") && lit.toLong > 0,
        s"FRESHNESS must be a positive integer interval, got '$lit'")
      freshness = Some(s"$lit ${unit}s")
    }
    var mode: Option[String] = None
    if (p.opt("REFRESH_MODE")) {
      p.eat("=")
      val m = p.ident().toUpperCase
      require(m == "FULL" || m == "CONTINUOUS",
        s"REFRESH_MODE must be FULL or CONTINUOUS, got $m")
      mode = Some(m.toLowerCase)
    }
    p.eat("AS")
    val query = stmt.substring(p.toks(p.i).start)
    // explicit mode wins; else infer from freshness vs the documented
    // 30-minute threshold; with neither, streaming-first default
    val resolvedMode = mode.getOrElse(freshness match {
      case Some(f) =>
        if (intervalMs(f) < MtContinuousThresholdMs) "continuous" else "full"
      case None => "continuous"
    })
    // default freshness per mode (materialized-table.default-freshness.*:
    // 3 minutes continuous, 1 hour full)
    val resolvedFreshness = freshness.getOrElse(
      if (resolvedMode == "continuous") "3 minutes" else "1 hours")
    val (path, managed) = options.get("path") match {
      case Some(pp) => (pp, false)
      case None => (java.nio.file.Files
        .createTempDirectory(s"graft_mt_$name").toString, true)
    }
    val merged = options ++ Map(
      "connector" -> options.getOrElse("connector", "filesystem"),
      "format" -> options.getOrElse("format", "parquet"),
      "path" -> path,
      MtQueryOpt -> query,
      MtFreshnessOpt -> resolvedFreshness,
      MtModeOpt -> resolvedMode,
      MtStatusOpt -> "active") ++
      (if (managed) Map(MtManagedOpt -> "true")
       else Map.empty[String, String]) ++
      (if (partitionKeys.isEmpty) Map.empty[String, String]
       else Map("partition-keys" -> partitionKeys.mkString(",")))
    (TableSpec(name, cols.result(), watermark, pk, merged,
      temporary = false), query)
  }

  /** Rename (and cast, when typed) the defining query's columns onto the
    * declared schema, positionally — the statement's column list names the
    * query's output, as in the reference's schema derivation. */
  private[sql] def shapeToDeclared(spec: TableSpec, df: DataFrame): DataFrame =
    if (spec.columns.isEmpty) df
    else {
      require(spec.columns.size == df.columns.length,
        s"materialized table ${spec.name} declares ${spec.columns.size} " +
          s"column(s) but its query produces ${df.columns.length}")
      df.select(df.columns.toSeq.zip(spec.columns).map { case (src, c) =>
        c.dataType.fold(col(src).as(c.name))(t => col(src).cast(t).as(c.name))
      }: _*)
    }

  /** `CREATE [TEMPORARY] MODEL [IF NOT EXISTS] name [INPUT (c T, …)]
    * [OUTPUT (c T, …)] [COMMENT '…'] WITH ('provider'=…, …)` — cursor just
    * past MODEL (SqlCreateModel.java:49; the INPUT/OUTPUT pair must be
    * both present or both absent, mirroring its validate()). */
  private def parseCreateModel(
      p: FlinkSql.P,
      temporary: Boolean): graft.ml.ModelSpec = {
    if (p.opt("IF")) { p.eat("NOT"); p.eat("EXISTS") }
    val name = p.ident()
    def colList(): Seq[(String, DataType)] = {
      p.eat("(")
      val cols = scala.collection.mutable.ArrayBuffer.empty[(String, DataType)]
      var go = true
      while (go) {
        val c = p.ident()
        cols += (c -> parseType(p))
        go = p.opt(",")
      }
      p.eat(")")
      cols.toSeq
    }
    val inputs = if (p.opt("INPUT")) colList() else Nil
    val outputs = if (p.opt("OUTPUT")) colList() else Nil
    require(inputs.isEmpty == outputs.isEmpty,
      s"model $name: INPUT and OUTPUT column lists must be declared " +
        "together (SqlCreateModel.validate)")
    val comment = if (p.opt("COMMENT")) Some(unquote(p.next().s)) else None
    val usingConn =
      if (p.opt("USING")) { p.eat("CONNECTION"); Some(p.ident()) } else None
    p.eat("WITH")
    val options = parseOptions(p) ++ usingConn.map("connection" -> _)
    require(p.done || p.peek != "AS",
      s"CREATE MODEL $name AS <query> trains a model, which a query " +
        "engine cannot do — create the model from its provider options")
    graft.ml.ModelSpec(name, inputs, outputs, options, comment, temporary)
  }

  /** The parenthesized column/constraint/watermark list body (cursor just
    * past the opening paren; consumes the closing paren). */
  private def parseColumnList(
      p: FlinkSql.P,
      stmt: String,
      cols: scala.collection.mutable.Builder[ColumnSpec, Seq[ColumnSpec]],
      watermark: WatermarkSpec => Unit,
      pkOut: Seq[String] => Unit): Unit = {
    var more = true
    while (more) {
      p.peek match {
        case "WATERMARK" =>
          p.eat("WATERMARK"); p.eat("FOR")
          val c = p.ident()
          p.eat("AS")
          watermark(parseWatermarkExpr(p, c))
        case "PRIMARY" =>
          p.eat("PRIMARY"); p.eat("KEY"); p.eat("(")
          val ks = scala.collection.mutable.ArrayBuffer(p.ident())
          while (p.opt(",")) ks += p.ident()
          p.eat(")")
          p.eat("NOT"); p.eat("ENFORCED") // Flink's only allowed mode
          pkOut(ks.toSeq)
        case "CONSTRAINT" =>
          p.eat("CONSTRAINT"); p.ident() // named constraint → same path
        case _ =>
          val cname = p.ident()
          if (p.opt("AS")) {
            // computed column: capture raw text to the next top-level , or )
            val from = p.toks(p.i).start
            var depth = 0
            while (!p.done && !(depth == 0 &&
                (p.peek == "," || p.peek == ")"))) {
              if (p.peek == "(") depth += 1
              else if (p.peek == ")") depth -= 1
              p.next()
            }
            val until = p.toks(p.i - 1).end
            cols += ColumnSpec(cname, None,
              Some(rewriteExpr(stmt.substring(from, until))))
          } else {
            val t = parseType(p)
            val isMeta = p.opt("METADATA")
            var metaKey: Option[String] = None
            if (isMeta) {
              metaKey = Some(
                if (p.opt("FROM")) unquote(p.next().s) else cname)
              p.opt("VIRTUAL")
            }
            if (p.opt("NOT")) p.eat("NULL")
            if (p.opt("COMMENT")) p.next()
            cols += ColumnSpec(cname, Some(t), None, isMeta, metaKey)
          }
      }
      more = p.opt(",")
    }
    p.eat(")")
  }

  /** `( 'k' = 'v' [, …] )` (cursor just past WITH). */
  private def parseOptions(p: FlinkSql.P): Map[String, String] = {
    p.eat("(")
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var go = true
    while (go) {
      val k = unquote(p.next().s)
      p.eat("=")
      m(k) = unquote(p.next().s)
      go = p.opt(",")
    }
    p.eat(")")
    m.toMap
  }

  /** `c - INTERVAL '<n>' <unit>` (bounded-out-of-orderness, fractional
    * values allowed: `INTERVAL '0.001' SECOND` → 1 ms) or bare `c`
    * (strictly ascending → zero delay). */
  private def parseWatermarkExpr(p: FlinkSql.P, declared: String): WatermarkSpec = {
    val c = p.ident()
    require(c.equalsIgnoreCase(declared),
      s"WATERMARK FOR $declared must be an expression over $declared, got $c")
    if (p.opt("-")) {
      p.eat("INTERVAL")
      val lit = unquote(p.next().s)
      val unit = p.ident().toLowerCase.stripSuffix("s")
      if (lit.contains('.')) {
        val unitMs = unit match {
          case "millisecond" => java.math.BigDecimal.ONE
          case "second" => new java.math.BigDecimal(1000)
          case "minute" => new java.math.BigDecimal(60000)
          case "hour" => new java.math.BigDecimal(3600000)
          case "day" => new java.math.BigDecimal(86400000)
          case other => throw new IllegalArgumentException(
            s"unsupported fractional interval unit $other")
        }
        val ms = new java.math.BigDecimal(lit).multiply(unitMs)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
        WatermarkSpec(declared, s"$ms milliseconds")
      } else WatermarkSpec(declared, s"$lit ${unit}s")
    } else WatermarkSpec(declared, "0 seconds")
  }

  /** Flink type name → Spark type. Nested ARRAY/MAP/ROW supported. */
  private[sql] def parseType(p: FlinkSql.P): DataType = {
    val base = p.ident().toUpperCase
    def intArgs(): Seq[Int] =
      if (p.opt("(")) {
        val a = scala.collection.mutable.ArrayBuffer(p.next().s.toInt)
        while (p.opt(",")) a += p.next().s.toInt
        p.eat(")")
        a.toSeq
      } else Nil
    base match {
      case "STRING" => StringType
      case "VARCHAR" | "CHAR" => intArgs(); StringType
      case "BOOLEAN" => BooleanType
      case "TINYINT" => ByteType
      case "SMALLINT" => ShortType
      case "INT" | "INTEGER" => IntegerType
      case "BIGINT" => LongType
      case "FLOAT" => FloatType
      case "DOUBLE" => if (p.opt("PRECISION")) DoubleType else DoubleType
      case "DECIMAL" | "NUMERIC" =>
        val a = intArgs()
        DecimalType(if (a.nonEmpty) a.head else 10,
          if (a.size > 1) a(1) else 0)
      case "DATE" => DateType
      case "TIMESTAMP" | "TIMESTAMP_LTZ" =>
        intArgs()
        if (p.opt("WITH") || p.opt("WITHOUT")) {
          p.opt("LOCAL"); p.eat("TIME"); p.eat("ZONE")
        }
        TimestampType
      case "BYTES" | "VARBINARY" | "BINARY" => intArgs(); BinaryType
      case "ARRAY" =>
        p.eat("<"); val e = parseType(p); p.eat(">")
        ArrayType(e)
      case "MAP" =>
        p.eat("<"); val k = parseType(p); p.eat(",")
        val v = parseType(p); p.eat(">")
        MapType(k, v)
      case "ROW" =>
        p.eat("<")
        val fs = scala.collection.mutable.ArrayBuffer.empty[StructField]
        var go = true
        while (go) {
          val n = p.ident()
          fs += StructField(n, parseType(p))
          go = p.opt(",")
        }
        p.eat(">")
        StructType(fs.toSeq)
      case other => throw new IllegalArgumentException(
        s"unsupported column type $other")
    }
  }

  /** Flink-only function spellings in computed-column expressions →
    * Spark equivalents. `TO_TIMESTAMP_LTZ(x, 0|3|6)` →
    * `timestamp_seconds|millis|micros(x)`; `PROCTIME()` →
    * `current_timestamp()` (processing time in a micro-batch engine is
    * the batch's evaluation time — same semantics class as the
    * reference's per-record wall clock, coarser granularity; documented
    * delta). */
  private[graft] def rewriteExpr(e0: String): String = {
    val e = e0.replaceAll("(?i)PROCTIME\\s*\\(\\s*\\)", "current_timestamp()")
    val ltz = "(?i)TO_TIMESTAMP_LTZ\\s*\\(".r
    ltz.findFirstMatchIn(e) match {
      case None => e
      case Some(m) =>
        // find the matching close paren and the trailing precision arg
        var depth = 1
        var i = m.end
        var lastComma = -1
        while (depth > 0 && i < e.length) {
          e(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 1 => lastComma = i
            case _ =>
          }
          i += 1
        }
        require(depth == 0 && lastComma > 0,
          s"malformed TO_TIMESTAMP_LTZ call in: $e")
        val arg = e.substring(m.end, lastComma).trim
        val prec = e.substring(lastComma + 1, i - 1).trim.toInt
        val fn = prec match {
          case 0 => "timestamp_seconds"
          case 3 => "timestamp_millis"
          case 6 => "timestamp_micros"
          case p => throw new IllegalArgumentException(
            s"unsupported TO_TIMESTAMP_LTZ precision $p")
        }
        rewriteExpr(e.substring(0, m.start) + s"$fn($arg)" + e.substring(i))
    }
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("''", "'")
    else s
}
