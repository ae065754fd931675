package graft.sql

import graft.changelog.{CdcFormats, RowKind}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC formats on the DDL/SQL source face (VERDICT r17 task 2): a table
  * declared `WITH ('format'='debezium-json' | 'canal-json' |
  * 'maxwell-json' | 'ogg-json')` reads its files as CDC envelope streams
  * — the reference's changelog formats
  * (`docs/content/docs/connectors/table/formats/debezium.md`;
  * flink-formats/flink-json `DebeziumJsonDeserializationSchema.java` et
  * al.), decoded by the existing [[graft.changelog.CdcFormats]] parsers.
  *
  * Batch face: the bounded envelope log folds to final table state on the
  * source's PRIMARY KEY (keep-last by the envelope timestamp, deletes
  * dropped) — a batch query over a CDC table sees the table, not the log.
  *
  * Streaming face ("CDC in, changelog out" through pure SQL text): an
  * `INSERT INTO sink SELECT … FROM cdc_src …` routes here, because a
  * decoded changelog carries retractions (`-U`/`-D`) that Spark's
  * insert-only streaming operators cannot consume directly. Two tiers,
  * chosen from the compiled plan — both fully incremental, O(delta) state
  * flow per micro-batch:
  *
  *   - '''Signed aggregation''' (the reference's retract-consuming group
  *     aggregate, `StreamExecGroupAggregate` fed by a CDC source): a
  *     top-level `GROUP BY` rewrites each aggregate into its
  *     signed-contribution form over the decoded log — `COUNT(*)` →
  *     `SUM(sign)`, `SUM(x)` → `SUM(sign·x)`, `AVG(x)` →
  *     `SUM(sign·x)/SUM(sign·[x≠null])`, where sign is +1 for `+I`/`+U`
  *     rows and −1 for `-U`/`-D` rows (a `WHERE` over value columns
  *     filters both images symmetrically, so predicate exits retract
  *     correctly). The rewritten plan is a STANDARD Spark streaming
  *     aggregate — per-group running sums in state — run by the shared
  *     update-mode tier. A hidden `SUM(sign)` liveness column detects
  *     groups whose last live row was deleted: those MERGE as `-D`, the
  *     reference's group-agg retraction when a count reaches zero.
  *
  *   - '''Retractable aggregation''' (r19, VERDICT r18 task 3): MIN /
  *     MAX / COUNT(DISTINCT) need retractable multiset state the signed
  *     rewrite cannot express — those route onto the DataStream tier's
  *     operator in place ([[graft.changelog.RetractingChangelogAgg]]):
  *     per-key multiset state, one transition pair per key per batch,
  *     MERGEd by PRIMARY KEY. See [[retractableAgg]] for scope.
  *
  *   - '''Changelog join''' (r19, VERDICT r18 task 2): `cdc JOIN cdc` /
  *     `cdc JOIN dim` routes onto [[graft.changelog.ChangelogJoin]] via
  *     [[StreamingCdcJoin]]; the aggregation tiers compose ABOVE the
  *     joined changelog (the `__sign` column is re-derived from its
  *     emitted rowkinds).
  *
  *   - '''Changelog passthrough''' (the reference's ChangelogNormalize +
  *     DropUpdateBefore over a projected/filtered CDC source): with no
  *     aggregation, the decoded rows flow as a changelog with `-U`
  *     degraded to `-D`, ordered by [[withArrivalSeq]] — envelope
  *     timestamp in the high bits plus a per-partition arrival counter
  *     in the low 20 (the topic offset's stand-in for ms-resolution
  *     ties) — and MERGEd into the sink by its PRIMARY KEY. An update
  *     whose new image leaves a `WHERE` predicate set still deletes the
  *     sink row via its surviving before-image.
  *
  * The tiers supply only their streaming plan and how a micro-batch
  * becomes a changelog; the checkpoint, the sink's validation and bucket
  * layout, the PRIMARY-KEY-vs-GROUP-BY guard with its whole-result
  * fallback, and the MERGE come from [[StreamSink]], the path every
  * streaming filesystem INSERT shares.
  */
object StreamingCdc {

  /** Hidden signed-contribution column added by the streaming decode. */
  val SignCol = "__sign"

  private val decoders
      : Map[String, (DataFrame, String, StructType) => DataFrame] = Map(
    "debezium-json" -> CdcFormats.fromDebezium,
    "canal-json" -> CdcFormats.fromCanal,
    "maxwell-json" -> CdcFormats.fromMaxwell,
    "ogg-json" -> CdcFormats.fromOgg)

  def isCdcFormat(format: String): Boolean = decoders.contains(format)

  /** Envelope lines → changelog rows (value columns + `__rowkind` +
    * `__seq`), for the batch face. */
  def decodeBatch(
      raw: DataFrame, format: String, valueSchema: StructType): DataFrame =
    decoders(format)(raw, raw.columns.head, valueSchema)

  /** As [[decodeBatch]] plus the hidden `__sign` column the streaming
    * signed-aggregation rewrite consumes. */
  def decode(
      raw: DataFrame, format: String, valueSchema: StructType): DataFrame =
    decodeBatch(raw, format, valueSchema).withColumn(SignCol,
      when(col(RowKind.kindCol).isin(RowKind.Insert, RowKind.UpdateAfter),
        lit(1L)).otherwise(lit(-1L)))

  /** Envelope timestamps tie at millisecond resolution (a row updated
    * then deleted in one transaction shares one `ts_ms`), and keep-last
    * materialization MUST resolve such ties in LOG order — the reference
    * orders by topic offset. The decode preserves arrival order within a
    * file partition (narrow ops only), so a per-partition row counter is
    * the offset's stand-in: seq' = ts·2^20 + counter. Within one
    * envelope the explode emits `-U` before `+U`, so an in-place update
    * keeps its new image, and a later delete at the same timestamp wins
    * over both. Cross-partition ties stay timestamp-ordered (the
    * pre-existing contract).
    *
    * Ordering bound (review r18): the counter occupies the low 20 bits,
    * so the arrival order it encodes holds for up to 2^20 (~1M) envelope
    * rows PER FILE PARTITION PER MICRO-BATCH — a row past that would
    * wrap below an earlier row's seq, so the guard RAISES instead of
    * wrapping silently (raise source parallelism or cap the batch with
    * `maxFilesPerTrigger`). The counter restarting at 0 each micro-batch
    * is harmless: in the sink MERGE any batch row supersedes the stored
    * row of its key, so a later batch's rows always supersede earlier
    * batches regardless of their seq values — cross-batch order comes
    * from batch sequencing, and this seq only needs to order rows WITHIN
    * one batch. */
  def withArrivalSeq(log: DataFrame): DataFrame =
    // ArrivalId: graft's streaming-legal per-partition row counter (see
    // its scaladoc for why the replay contract holds here); the bound
    // raises INSIDE the expression — a wrapped counter would silently
    // misorder same-timestamp envelopes
    log.withColumn(RowKind.seqCol,
      col(RowKind.seqCol) * lit(1L << 20) +
        org.apache.spark.sql.GraftPlans
          .column(graft.functions.ArrivalId(bound = 1L << 20)))

  /** Does this compiled plan read a CDC-format source? (The decoded
    * source is the only thing that puts a `__sign` attribute in a plan.) */
  def referencesCdc(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .find(p => p.output.exists(_.name == SignCol)).isDefined

  private def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.GraftPlans.ofRows(spark, plan)

  /** Start the continuous query for `INSERT INTO spec <compiled>` where
    * the compiled plan reads a CDC source. `sources` is the DDL catalog
    * (join routing resolves each join input's upsert key from its
    * declared PRIMARY KEY). Returns (query, checkpoint).
    *
    * Tier dispatch, all O(delta) state flow per micro-batch:
    *   - `GROUP BY` over the source (or over a join): signed-aggregation
    *     when every aggregate is COUNT/SUM/AVG; retractable-state tier
    *     ([[graft.changelog.RetractingChangelogAgg]]) for MIN/MAX and
    *     COUNT(DISTINCT) — VERDICT r18 task 3;
    *   - `cdc JOIN cdc` / `cdc JOIN dim`: [[StreamingCdcJoin]] routes
    *     onto [[graft.changelog.ChangelogJoin]] — VERDICT r18 task 2 —
    *     optionally composing with the aggregation tiers above it;
    *   - projection/filter only: changelog passthrough. */
  def start(
      spark: SparkSession,
      spec: FlinkDdl.TableSpec,
      compiled: DataFrame,
      sources: Seq[FlinkDdl.TableSpec] = Seq.empty): StreamSink.Started = {
    val merge = StreamSink.upsertTarget(spark, spec, "a CDC-format source")
    val analyzed = compiled.queryExecution.analyzed
    // an append-mode changelog: each micro-batch, made a log by `toLog`,
    // MERGEs on the sink's PRIMARY KEY
    def startChangelog(changelog: DataFrame)(
        toLog: DataFrame => DataFrame): StreamSink.Started =
      StreamSink.startSink(spec, FlinkDdl.alignToSink(spec, changelog,
        Seq(RowKind.kindCol, RowKind.seqCol)), "append") { (batch, _) =>
        merge(toLog(batch))
      }

    // Top-level aggregate (optionally under an attribute-only Project the
    // analyzer sometimes leaves above it) → an aggregation tier.
    val aggRoot: Option[(Aggregate, Option[Project])] = analyzed match {
      case a: Aggregate => Some((a, None))
      case p @ Project(pl, a: Aggregate)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        Some((a, Some(p)))
      case _ => None
    }

    aggRoot match {
      case Some((agg, outer)) =>
        // the aggregate's input changelog: the decoded source directly,
        // or a ChangelogJoin of two sources (join composition)
        val (child, sign): (LogicalPlan, Attribute) =
          if (StreamingCdcJoin.hasJoin(agg.child)) {
            val (joined, _) = StreamingCdcJoin
              .changelogOf(spark, agg.child, sources).get
            val signed = joined.withColumn(SignCol,
              when(col(RowKind.kindCol)
                .isin(RowKind.Insert, RowKind.UpdateAfter), lit(1L))
                .otherwise(lit(-1L)))
            val p = signed.queryExecution.analyzed
            (p, p.output.find(_.name == SignCol).get)
          } else {
            val s = agg.child.output.find(_.name == SignCol).getOrElse(
              throw new IllegalArgumentException(
                "CDC aggregation must group the CDC source (or a join " +
                  "of CDC sources) directly — other subquery shapes are " +
                  "not supported on the SQL streaming entry"))
            (agg.child, s)
          }
        // rebuild the aggregate over the (possibly new) child, rebinding
        // by name when the child was rebuilt by the join routing
        val agg2 =
          if (child eq agg.child) agg
          else Aggregate(
            agg.groupingExpressions
              .map(StreamingCdcJoin.rebind(_, child.output)),
            agg.aggregateExpressions.map(ne => StreamingCdcJoin
              .rebind(ne, child.output).asInstanceOf[NamedExpression]),
            child)
        if (signedCapable(agg2))
          startSignedAgg(spark, spec, agg2, outer, sign, merge)
        else
          // transitions carry their own per-key monotone seq, so
          // keep-last picks each key's final image
          startChangelog(retractableAgg(spark, spec, agg2, outer))(identity)

      case None if StreamingCdcJoin.hasJoin(analyzed) =>
        // join passthrough: ChangelogJoin output (an upsert changelog of
        // pairings keyed by the two sides' upsert keys) MERGEs on the
        // sink's PRIMARY KEY — which must therefore carry the pairing
        // identity, or distinct pairings would collapse
        val (joined, pairingKeys) =
          StreamingCdcJoin.changelogOf(spark, analyzed, sources).get
        require(pairingKeys.subsetOf(FlinkDdl.pkSources(spec, joined)),
          s"Table sink '${spec.name}': the PRIMARY KEY of a CDC join " +
            s"sink must include both join inputs' upsert keys " +
            s"[${pairingKeys.mkString(", ")}] (the pairing identity the " +
            "joined changelog is keyed by) — declared " +
            s"[${spec.primaryKey.mkString(", ")}]")
        // ChangelogJoin emits +U/-D only, already totally ordered by its
        // 2·seq+bit stamp over the arrival-seq domain
        startChangelog(joined)(identity)

      case None =>
        // Passthrough tier: projection/filter only. Thread the changelog
        // columns through the top Project (they are pruned nowhere else
        // at analysis time); reject shapes where they are unreachable.
        val plan = analyzed match {
          case p: Project =>
            val meta = Seq(RowKind.kindCol, RowKind.seqCol).map { n =>
              p.child.output.find(_.name == n).getOrElse(
                throw new IllegalArgumentException(
                  "CDC passthrough INSERT must select from the CDC " +
                    "source directly (nested subqueries dropped the " +
                    "changelog columns)"))
            }
            Project(p.projectList ++ meta, p.child)
          case other if Seq(RowKind.kindCol, RowKind.seqCol)
              .forall(n => other.output.exists(_.name == n)) => other
          case _ => throw new IllegalArgumentException(
            "unsupported CDC query shape: expected a top-level GROUP BY " +
              "(signed-aggregation tier) or a projection/filter " +
              "(changelog passthrough)")
        }
        // -U degrades to -D, and [[withArrivalSeq]] imposes log order on
        // envelope-timestamp ties (review r18: the old seq·2+bit scheme
        // made a same-ts delete LOSE to the update before it), so
        // keep-last resolves in-place updates to the new image, predicate
        // exits to the delete, and update-then-delete in one transaction
        // to the delete.
        startChangelog(ofRows(spark, plan)) { batch =>
          withArrivalSeq(batch).withColumn(RowKind.kindCol,
            when(col(RowKind.kindCol) === RowKind.UpdateBefore,
              RowKind.Delete).otherwise(col(RowKind.kindCol)))
        }
    }
  }

  /** Every aggregate is expressible in signed-contribution form
    * (COUNT/SUM/AVG, no DISTINCT, no FILTER) — running sums in standard
    * Spark streaming-aggregate state. */
  private def signedCapable(agg: Aggregate): Boolean = {
    var ok = true
    agg.aggregateExpressions.foreach(_.foreach {
      case ae: AggregateExpression =>
        val fnOk = ae.aggregateFunction match {
          case _: Count | _: Sum | _: Average => true
          case _ => false
        }
        if (ae.isDistinct || ae.filter.isDefined || !fnOk) ok = false
      case _ => ()
    })
    ok
  }

  /** Signed-aggregation tier: rewrite to signed form and run it through
    * the update-mode tier ([[StreamSink.startUpdating]]), where a group
    * is live while its live-row count is positive. */
  private def startSignedAgg(
      spark: SparkSession,
      spec: FlinkDdl.TableSpec,
      agg: Aggregate,
      outer: Option[Project],
      sign: Attribute,
      merge: DataFrame => Unit): StreamSink.Started = {
    val rewritten = rewriteAggregate(agg, sign)
    val plan = outer match {
      case Some(p) =>
        val live = rewritten.aggregateExpressions.last.toAttribute
        Project(p.projectList :+ live, rewritten)
      case None => rewritten
    }
    StreamSink.startUpdating(spec,
      FlinkDdl.alignToSink(spec, ofRows(spark, plan), Seq(LiveCol)),
      merge, col(LiveCol) > 0, Some(LiveCol))
  }

  /** Hidden value column the retractable tier folds. */
  private val ValCol = "__cdcval"

  /** Retractable-state tier (VERDICT r18 task 3; ref the
    * `*WithRetractAggFunction` family — MinWithRetractAggFunction keeps a
    * value→count multiset so a retracted current-min falls back): MIN /
    * MAX / COUNT(DISTINCT) cannot be expressed as signed running sums,
    * so the aggregate routes onto
    * [[graft.changelog.RetractingChangelogAgg]] — per-key multiset state,
    * one `-U`/`+U` transition pair per key per micro-batch, `-D` when a
    * key's live set empties. Returns that transition changelog for the
    * sink's MERGE, whose PRIMARY KEY must be exactly the GROUP BY key:
    * append-mode transitions hold no whole result to replace the sink
    * with, so any other key is a loud error. Supported: COUNT(*) / SUM /
    * AVG / MIN / MAX /
    * COUNT(DISTINCT) over ONE shared value expression (the multiset
    * tracks one column; values must be non-null, the CDC envelope
    * payload contract). Shapes outside that stay loud errors. */
  private def retractableAgg(
      spark: SparkSession,
      spec: FlinkDdl.TableSpec,
      agg: Aggregate,
      outer: Option[Project]): DataFrame = {
    val childOut = agg.child.output
    val metaAttrs = Seq(RowKind.kindCol, RowKind.seqCol).map(n =>
      childOut.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          "retractable CDC aggregation lost the changelog columns of " +
            "its input — group the CDC source (or join) directly")))

    val valExprs = scala.collection.mutable.ArrayBuffer.empty[Expression]
    var needDistinct = false
    def unsupported(what: String): Nothing =
      throw new IllegalArgumentException(
        s"$what over a CDC-format source needs aggregate state no SQL " +
          "streaming tier covers — use the DataStream changelog tier " +
          "(RetractingChangelogAgg / RetractableAgg) for this query")
    def aggSource(ae: AggregateExpression): org.apache.spark.sql.Column = {
      if (ae.filter.isDefined) unsupported("a FILTER clause")
      ae.aggregateFunction match {
        case Count(es) if es.forall(_.foldable) && !ae.isDistinct =>
          col("n_live")
        case Count(Seq(e)) if ae.isDistinct =>
          valExprs += e; needDistinct = true; col("n_distinct")
        case Count(_) => unsupported(
          "COUNT(col) (row counting is COUNT(*) on this tier; filter " +
            "nulls explicitly)")
        case s: Sum if !ae.isDistinct =>
          valExprs += s.child; col("sum_v").cast(ae.dataType)
        case m: Min =>
          valExprs += m.child; col("min_v").cast(ae.dataType)
        case m: Max =>
          valExprs += m.child; col("max_v").cast(ae.dataType)
        case a: Average if !ae.isDistinct =>
          valExprs += a.child
          (col("sum_v") / col("n_live")).cast(ae.dataType)
        case other => unsupported(s"aggregate ${other.prettyName}")
      }
    }
    def mapExpr(e: Expression): org.apache.spark.sql.Column = e match {
      case ae: AggregateExpression => aggSource(ae)
      case c: Cast => mapExpr(c.child).cast(c.dataType)
      case _ => unsupported("a composite select expression")
    }
    def isGrouping(ne: NamedExpression): Boolean = {
      val inner = ne match { case al: Alias => al.child; case e => e }
      agg.groupingExpressions.exists(_.semanticEquals(inner))
    }

    val keyAliases = agg.aggregateExpressions.collect {
      case ne if isGrouping(ne) =>
        val inner = ne match { case al: Alias => al.child; case e => e }
        Alias(inner, ne.name)()
    }
    require(agg.groupingExpressions.forall(ge =>
      keyAliases.exists(_.child.semanticEquals(ge))),
      "retractable CDC aggregation: every GROUP BY expression must " +
        "appear in the select list (the sink MERGE keys on it)")

    val selectCols = agg.aggregateExpressions.map { ne =>
      if (isGrouping(ne)) col(ne.name)
      else (ne match {
        case al: Alias => mapExpr(al.child)
        case e => mapExpr(e)
      }).as(ne.name)
    }
    require(valExprs.nonEmpty,
      "retractable CDC aggregation needs at least one value aggregate")
    val canon = valExprs.head
    require(valExprs.forall(_.semanticEquals(canon)),
      "retractable CDC aggregation supports ONE shared value expression " +
        "across MIN/MAX/SUM/AVG/COUNT(DISTINCT) — the multiset state " +
        "tracks a single column")

    val pre = Project(
      keyAliases ++ Seq(Alias(Cast(canon, DoubleType), ValCol)()) ++
        metaAttrs,
      agg.child)
    val keyNames = keyAliases.map(_.name)
    val ra = graft.changelog.RetractingChangelogAgg(
      withArrivalSeq(ofRows(spark, pre)), keyNames, ValCol,
      emitDistinct = needDistinct)
    val projected = ra.select(selectCols ++
      Seq(col(RowKind.kindCol), col(RowKind.seqCol)): _*)
    val finalDf = outer match {
      case Some(p) => projected.select(p.projectList.map(a => col(a.name))
        ++ Seq(col(RowKind.kindCol), col(RowKind.seqCol)): _*)
      case None => projected
    }

    require(FlinkDdl.pkSources(spec, finalDf) ==
        keyNames.map(_.toLowerCase).toSet,
      s"Table sink '${spec.name}': the retractable CDC tier MERGEs by " +
        "PRIMARY KEY, which must be exactly the GROUP BY key " +
        s"[${keyNames.mkString(", ")}] — declared " +
        s"[${spec.primaryKey.mkString(", ")}]")
    finalDf
  }

  /** Hidden liveness column: `SUM(sign)` = number of live rows in the
    * group — 0 means the group left the table and the sink must delete. */
  private[sql] val LiveCol = "__live"

  /** Rewrite each aggregate into its signed form and append the liveness
    * aggregate (always LAST in the output). */
  private def rewriteAggregate(agg: Aggregate, sign: Attribute): Aggregate = {
    def signedLive(e: Expression): Sum =
      new Sum(If(IsNull(e), Literal(0L), sign))
    val rewritten = agg.aggregateExpressions.map { ne =>
      ne.transformUp {
        case ae: AggregateExpression if ae.isDistinct || ae.filter.isDefined =>
          throw new IllegalArgumentException(
            "DISTINCT/FILTER aggregates over a CDC source need " +
              "retractable distinct state — use the DataStream changelog " +
              "tier (RetractableAgg) for this query")
        case ae: AggregateExpression => ae.aggregateFunction match {
          case Count(es) if es.forall(_.foldable) => // COUNT(*) / COUNT(1)
            ae.copy(aggregateFunction = new Sum(sign))
          case Count(Seq(e)) =>
            ae.copy(aggregateFunction = signedLive(e))
          case s: Sum =>
            ae.copy(aggregateFunction =
              s.copy(child = Multiply(s.child, Cast(sign, s.child.dataType))))
          case Average(e, _) =>
            Divide(
              new Sum(Multiply(Cast(e, DoubleType), Cast(sign, DoubleType)))
                .toAggregateExpression(),
              Cast(signedLive(e).toAggregateExpression(), DoubleType))
          case other => throw new IllegalArgumentException(
            s"aggregate ${other.prettyName} over a CDC-format source " +
              "needs retractable aggregate state; the SQL streaming entry " +
              "supports COUNT/SUM/AVG (use the DataStream changelog tier " +
              "for MIN/MAX/retractable collections)")
        }
      }.asInstanceOf[NamedExpression]
    }
    val live = Alias(new Sum(sign).toAggregateExpression(), LiveCol)()
    agg.copy(aggregateExpressions = rewritten :+ live)
  }
}
