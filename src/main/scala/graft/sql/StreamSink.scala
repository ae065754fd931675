package graft.sql

import graft.GraftSession.ScopedStart
import graft.changelog.{FsOps, RowKind, UpsertSink}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The sink side of every filesystem `INSERT INTO` that
  * [[FlinkDdl.runStreaming]] starts. The reference's planner decides it
  * once (`StreamExecSink.java:137` picks append or upsert
  * materialization from the plan's changelog mode); here too one set of
  * functions decides it for every tier — the plain, HAVING, rank and
  * OVER tiers of [[FlinkDdl]] and the CDC tiers of [[StreamingCdc]]. A
  * tier supplies only its streaming plan and how a micro-batch becomes a
  * changelog; this object owns:
  *
  *   - the checkpoint: `'sink.checkpoint-dir'`, else a fresh temp dir;
  *   - the upsert target: a parquet filesystem sink with a PRIMARY KEY,
  *     its bucket count resolved (and a flat store re-laid out) once,
  *     by the first MERGE, and the per-batch [[UpsertSink.applyBatch]]
  *     MERGE;
  *   - the replace target: crash-safe truncate-replace in the declared
  *     format;
  *   - the update-mode tier: MERGE on the PRIMARY KEY when it is exactly
  *     the plan's grouping key, else replace the whole result per batch;
  *   - the append writer: the sink's files, bucketed and partitioned as
  *     declared.
  */
private[sql] object StreamSink {

  type Started = (StreamingQuery, String)

  /** The sink's `'sink.checkpoint-dir'`, or a fresh temp dir. */
  def checkpointDir(spec: FlinkDdl.TableSpec): String =
    spec.options.getOrElse("sink.checkpoint-dir",
      java.nio.file.Files
        .createTempDirectory(s"graft_ck_${spec.name}_").toString)

  /** Start `df` in output `mode` under the sink's checkpoint; `sink`
    * completes the writer (a format, or a per-batch function). Returns
    * (query, checkpoint). */
  def startWith(spec: FlinkDdl.TableSpec, df: DataFrame, mode: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Started = {
    val ckpt = checkpointDir(spec)
    (sink(df.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)).startScoped(df.sparkSession), ckpt)
  }

  /** Start `df` with `perBatch` run on each micro-batch and its id. */
  def startSink(spec: FlinkDdl.TableSpec, df: DataFrame, mode: String)(
      perBatch: (DataFrame, Long) => Unit): Started =
    startWith(spec, df, mode)(_.foreachBatch(perBatch))

  /** The upsert target for the changes `producer` emits: the sink must be
    * a filesystem table with a PRIMARY KEY (the reference's error shape
    * otherwise) stored as parquet (the MERGE reads the table back). The
    * bucket count resolves once, on the first MERGE, so a tier that
    * falls back to whole-result replace never re-lays out the store
    * ([[startUpdating]]). Returns the
    * per-batch MERGE of a changelog micro-batch (the sink's columns plus
    * `__rowkind` and `__seq`). */
  def upsertTarget(
      spark: SparkSession,
      spec: FlinkDdl.TableSpec,
      producer: String): DataFrame => Unit = {
    require(spec.connector == "filesystem",
      s"Table sink '${spec.name}': the changes produced by $producer " +
        s"need a filesystem sink, not '${spec.connector}'")
    require(spec.primaryKey.nonEmpty,
      s"Table sink '${spec.name}' doesn't support consuming update and " +
        s"delete changes which are produced by $producer — declare a " +
        "PRIMARY KEY on the sink so it can upsert")
    require(spec.format == "parquet",
      s"Table sink '${spec.name}': upsert materialization of $producer " +
        s"is parquet-backed; declared format '${spec.format}' cannot " +
        "store the merge state — declare 'format'='parquet'")
    val declared = FlinkDdl.bucketCount(spec)
    lazy val buckets = UpsertSink.resolveBuckets(spark, spec.path,
      spec.primaryKey, declared)
    log => UpsertSink.applyBatch(
      log.sparkSession, spec.path, log, spec.primaryKey, buckets)
  }

  /** Crash-safe truncate-replace of the table at `path` by `df`. */
  def replace(df: DataFrame, path: String, format: String): Unit =
    FsOps.replace(df.sparkSession, path)(
      df.write.mode("overwrite").format(format).save)

  /** Every micro-batch is the whole result: the rows where `live` holds,
    * less the `hidden` liveness column, replace the sink (replaying a
    * batch rewrites the same table). */
  def startReplace(
      spec: FlinkDdl.TableSpec,
      df: DataFrame,
      live: Column = lit(true),
      hidden: Option[String] = None): Started =
    startSink(spec, df, "complete") { (batch, _) =>
      val rows = batch.where(live)
      replace(hidden.fold(rows)(rows.drop), spec.path, spec.format)
    }

  /** The update-mode tier. `df` is an aggregate whose Update-mode
    * micro-batches carry the changed groups; `live` tells whether a group
    * is in the result (a plain GROUP BY: always; HAVING: its condition;
    * CDC signed aggregation: live rows > 0) and `hidden` names the column
    * it reads, which the sink does not store. The MERGE is keep-last on
    * the sink's PRIMARY KEY, so that key must be exactly the plan's
    * grouping key: a strict subset collapses distinct groups, a key
    * holding an aggregate value strands a group's previous row. On any
    * other key the whole result replaces the sink each batch instead,
    * which ignores the key and is always correct. */
  def startUpdating(
      spec: FlinkDdl.TableSpec,
      df: DataFrame,
      merge: DataFrame => Unit,
      live: Column,
      hidden: Option[String]): Started = {
    val grouping = groupingPassThroughNames(df.queryExecution.analyzed) --
      hidden.map(_.toLowerCase)
    if (grouping.isEmpty ||
        grouping != spec.primaryKey.map(_.toLowerCase).toSet)
      startReplace(spec, df, live, hidden)
    else startSink(spec, df, "update") { (batch, batchId) =>
      // changed groups upsert, groups that left the result delete;
      // replaying a batch re-merges the same values
      val log = batch
        .withColumn(RowKind.kindCol,
          when(live, lit(RowKind.UpdateAfter)).otherwise(lit(RowKind.Delete)))
        .withColumn(RowKind.seqCol, lit(batchId + 1L))
      val changes = hidden.fold(log)(log.drop)
      FlinkDdl.onMergeBatch.foreach(f => f(spec.name, changes.count()))
      merge(changes)
    }
  }

  /** The append writer: the sink's files in its declared format, with its
    * DISTRIBUTED and PARTITIONED BY layout. */
  def startAppend(spec: FlinkDdl.TableSpec, df: DataFrame): Started =
    startWith(spec, FlinkDdl.bucketed(spec, df), "append") { w =>
      val files = w.format(spec.format).option("path", spec.path)
      spec.options.get("partition-keys")
        .fold(files)(ks => files.partitionBy(ks.split(",").map(_.trim): _*))
    }

  /** Output column names (lowercased) of `plan` that are pure
    * pass-throughs of the topmost streaming Aggregate's GROUPING keys —
    * the columns a per-group MERGE may key on. Provenance is traced only
    * through Project/Filter/SubqueryAlias (anything else conservatively
    * yields the empty set). */
  private def groupingPassThroughNames(plan: LogicalPlan): Set[String] = {
    def walk(p: LogicalPlan): Set[ExprId] = p match {
      case a: Aggregate if a.isStreaming =>
        a.aggregateExpressions.flatMap { ne =>
          val inner = ne match { case al: Alias => al.child; case e => e }
          if (a.groupingExpressions.exists(_.semanticEquals(inner)))
            Some(ne.toAttribute.exprId)
          else None
        }.toSet
      case pr: Project =>
        val below = walk(pr.child)
        // casts are provenance-preserving here: the sink aligner wraps
        // every column in a cast to its DECLARED type — the type the
        // MERGE actually keys on — so Cast(groupingAttr) still names the
        // group
        def stripCast(e: Expression): Expression = e match {
          case c: Cast => stripCast(c.child)
          case other => other
        }
        pr.projectList.flatMap { ne =>
          val inner = ne match { case al: Alias => al.child; case e => e }
          stripCast(inner) match {
            case ar: AttributeReference if below(ar.exprId) =>
              Some(ne.toAttribute.exprId)
            case _ => None
          }
        }.toSet
      case f: Filter => walk(f.child)
      case s: SubqueryAlias => walk(s.child)
      case _ => Set.empty
    }
    val ids = walk(plan)
    plan.output.filter(a => ids(a.exprId)).map(_.name.toLowerCase).toSet
  }
}
