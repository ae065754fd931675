package graft.changelog

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** The changelog/retraction tier — the reference's "single most important
  * semantic" (SURVEY §1.1): every record carries a RowKind change flag
  * (flink-core/…/types/RowKind.java:31-52 — +I/-U/+U/-D), streaming
  * aggregates emit -U/+U pairs, sinks materialize upserts.
  *
  * Spark has no out-of-band row kind, so graft threads it as an explicit
  * `__rowkind` column (the convention SURVEY §1.3 fixes) plus a per-key
  * monotonic `__seq` so downstream consumers can order a key's changes
  * without relying on arrival order. Batch is the all-`+I` special case.
  */
object RowKind {
  val Insert = "+I"
  val UpdateBefore = "-U"
  val UpdateAfter = "+U"
  val Delete = "-D"

  val kindCol = "__rowkind"
  val seqCol = "__seq"
}

/** Incremental aggregate spec for changelog-emitting aggregation.
  * `kind`: count | sum | min | max (append-only input, so min/max need no
  * retract buffer — the reference's same restriction for its non-retract
  * agg functions).
  */
final case class AggSpec(outName: String, inCol: String, kind: String) {
  require(Seq("count", "sum", "min", "max").contains(kind),
    s"unsupported agg kind: $kind")
}

/** Changelog-emitting group aggregation over an APPEND-ONLY input: on every
  * change of a key's aggregate emits the retraction pair — `+I` for a new
  * key, then `-U`(old)/`+U`(new) on each update.
  *
  * Reference: StreamExecGroupAggregate.java:87 /
  * RT/operators/aggregate/GroupAggFunction.java:33 (ValueState of the acc,
  * emit retract + new row on change).
  *
  * State bound: one accumulator row per key (exactly the reference's).
  * Batch route: the all-+I special case — a plain hash aggregate with
  * `__rowkind = '+I'`, oracle-checkable.
  */
object ChangelogAgg {

  private def aggValueType(spec: AggSpec): DataType =
    if (spec.kind == "count") LongType else DoubleType

  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      specs: Seq[AggSpec]): DataFrame = {

    if (!df.isStreaming) {
      val aggs = specs.map {
        case AggSpec(out, in, "count") => count(lit(1)).as(out)
        case AggSpec(out, in, "sum") => sum(col(in).cast("double")).as(out)
        case AggSpec(out, in, "min") => min(col(in).cast("double")).as(out)
        case AggSpec(out, in, "max") => max(col(in).cast("double")).as(out)
      }
      return df.groupBy(keyCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumn(RowKind.kindCol, lit(RowKind.Insert))
        .withColumn(RowKind.seqCol, lit(1L))
    }

    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val inIdx = specs.map(s => df.schema.fieldIndex(s.inCol))
    val keySchema = StructType(keyIdx.map(df.schema.fields(_)))
    val outSchema = StructType(
      keyIdx.map(df.schema.fields(_)) ++
        specs.map(s => StructField(s.outName, aggValueType(s))) :+
        StructField(RowKind.kindCol, StringType) :+
        StructField(RowKind.seqCol, LongType))

    val kEnc: Encoder[Row] = Encoders.row(keySchema)
    val vEnc: Encoder[Row] = Encoders.row(df.schema)
    // state: (next seq, accumulators — count:Long / sum,min,max:Double)
    type S = (Long, Seq[Any])
    val sEnc: Encoder[S] = Encoders.kryo[S]
    val oEnc: Encoder[Row] = Encoders.row(outSchema)

    def mergeOne(spec: AggSpec, acc: Any, v: Double): Any = spec.kind match {
      case "count" => acc.asInstanceOf[Long] + 1L
      case "sum" => acc.asInstanceOf[Double] + v
      case "min" => math.min(acc.asInstanceOf[Double], v)
      case "max" => math.max(acc.asInstanceOf[Double], v)
    }
    def zeroOne(spec: AggSpec, v: Double): Any = spec.kind match {
      case "count" => 1L
      case _ => v
    }

    df.as[Row](vEnc)
      .groupByKey(r => Row.fromSeq(keyIdx.map(r.get)))(kEnc)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Row, rows: Iterator[Row], state: GroupState[S]) =>
          val old = state.getOption
          var accs = old.map(_._2).orNull
          rows.foreach { r =>
            val vs = inIdx.map(i => r.get(i) match {
              case n: Number => n.doubleValue()
              case _ => 0.0
            })
            accs =
              if (accs == null) specs.lazyZip(vs).map(zeroOne)
              else specs.lazyZip(accs).lazyZip(vs).map(mergeOne)
          }
          if (accs == null) Iterator.empty // timeout-less: rows always present
          else {
            val seq0 = old.map(_._1).getOrElse(1L)
            state.update((seq0 + 2, accs))
            val kvs = key.toSeq
            old match {
              case None =>
                Iterator.single(Row.fromSeq(
                  kvs ++ accs :+ RowKind.Insert :+ seq0))
              case Some((_, oldAccs)) =>
                Iterator(
                  Row.fromSeq(kvs ++ oldAccs :+ RowKind.UpdateBefore :+ seq0),
                  Row.fromSeq(kvs ++ accs :+ RowKind.UpdateAfter :+ (seq0 + 1)))
            }
          }
      }(sEnc, oEnc)
  }
}

/** Collapse an UPSERT stream (latest-value-per-key rows + `-D` tombstones)
  * into a full changelog with explicit `-U` pre-images — the operator the
  * planner inserts when a CDC source emits upserts but downstream needs
  * retractions.
  *
  * Reference: StreamExecChangelogNormalize.java:81 (ValueState of the
  * previous image). State bound: one row per live key.
  *
  * Input contract: `upsertKindCol` contains `+U` (upsert) or `-D` (delete);
  * batch inputs are treated as all-upserts-in-`seqCol`-order and produce
  * the same changelog a replay would.
  */
object ChangelogNormalize {

  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      upsertKindCol: String,
      seqCol: String): DataFrame = {

    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val kindIdx = df.schema.fieldIndex(upsertKindCol)
    val seqIdx = df.schema.fieldIndex(seqCol)
    val keySchema = StructType(keyIdx.map(df.schema.fields(_)))
    val outSchema = StructType(
      df.schema.fields.filterNot(_.name == upsertKindCol) :+
        StructField(RowKind.kindCol, StringType))

    val payloadIdx =
      df.schema.fields.indices.filterNot(_ == kindIdx)

    val kEnc: Encoder[Row] = Encoders.row(keySchema)
    val vEnc: Encoder[Row] = Encoders.row(df.schema)
    type S = Seq[Any] // previous image (payload values)
    val sEnc: Encoder[S] = Encoders.kryo[S]
    val oEnc: Encoder[Row] = Encoders.row(outSchema)

    // Position of the seq column within the payload: emitted pre-images
    // (-U) and deletes (-D) carry the TRIGGERING change's seq, not the old
    // image's — downstream keep-last materialization must order a delete
    // after the insert/update it supersedes (no seq ties).
    val seqPos = payloadIdx.indexOf(seqIdx)

    def process(prev: Option[Seq[Any]], r: Row): (Option[Seq[Any]], Seq[Row]) = {
      val payload = payloadIdx.map(r.get)
      val curSeq = r.getLong(seqIdx)
      def restamp(img: Seq[Any]): Seq[Any] = img.updated(seqPos, curSeq)
      r.getString(kindIdx) match {
        case RowKind.Delete =>
          (None, prev.map(p =>
            Row.fromSeq(restamp(p) :+ RowKind.Delete)).toSeq)
        case _ =>
          val outs = prev match {
            case None => Seq(Row.fromSeq(payload :+ RowKind.Insert))
            case Some(p) => Seq(
              Row.fromSeq(restamp(p) :+ RowKind.UpdateBefore),
              Row.fromSeq(payload :+ RowKind.UpdateAfter))
          }
          (Some(payload), outs)
      }
    }

    if (!df.isStreaming) {
      // Batch replay: per key in seq order, fold through the same logic.
      // Secondary sort (external spilling sort + streamed key groups)
      // instead of buffering each group to sort it — per-key heap is the
      // previous image only, so a hot key cannot OOM the task.
      return graft.operators.SecondarySort.mapOrderedGroups(
        df, keyCols, Seq(col(seqCol)), outSchema) { (_, rows) =>
        var prev: Option[Seq[Any]] = None
        rows.flatMap { r =>
          val (p2, outs) = process(prev, r)
          prev = p2
          outs
        }
      }
    }

    df.as[Row](vEnc)
      .groupByKey(r => Row.fromSeq(keyIdx.map(r.get)))(kEnc)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Row, rows: Iterator[Row], state: GroupState[S]) =>
          var prev: Option[Seq[Any]] = state.getOption
          val out = rows.toSeq.sortBy(_.getLong(seqIdx)).flatMap { r =>
            val (p2, outs) = process(prev, r)
            prev = p2
            outs
          }
          prev match {
            case Some(p) => state.update(p)
            case None => state.remove()
          }
          out.iterator
      }(sEnc, oEnc)
  }
}

/** Retract-CONSUMING group aggregation: input is a CHANGELOG (`+I`/`+U`
  * accumulate, `-U`/`-D` retract the carried image), output is the
  * aggregate over each key's live set — the reference's retractable
  * aggregate tier (RT/functions/aggregate "WithRetractAggFunction" family:
  * MinWithRetractAggFunction et al. keep a value-multiset so a retracted
  * current-min can fall back to the next value).
  *
  * Exactness: SUM accumulates in BigDecimal (scale 6, HALF_UP per
  * element), so retract(accumulate(x)) is the exact identity — no float
  * drift ever accumulates — and the fold order across a group is
  * irrelevant (every op commutes). MIN/MAX keep a Map[value → count]
  * multiset. COUNT is a plain live-row counter.
  *
  * Batch route: one commutative fold per key (no ordering needed). The
  * streaming form composes from this + [[ChangelogAgg]]'s emission
  * protocol; batch is what the oracle checks.
  */
object RetractableAgg {

  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      valCol: String): DataFrame = {

    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val valIdx = df.schema.fieldIndex(valCol)
    val kindIdx = df.schema.fieldIndex(RowKind.kindCol)
    val keySchema = StructType(keyIdx.map(df.schema.fields(_)))
    val outSchema = StructType(
      keyIdx.map(df.schema.fields(_)) ++ Seq(
        StructField("n_live", LongType),
        StructField("sum_v", DoubleType),
        StructField("min_v", DoubleType),
        StructField("max_v", DoubleType)))

    val kEnc: Encoder[Row] = Encoders.row(keySchema)
    val vEnc: Encoder[Row] = Encoders.row(df.schema)
    val oEnc: Encoder[Row] = Encoders.row(outSchema)

    df.as[Row](vEnc)
      .groupByKey(r => Row.fromSeq(keyIdx.map(r.get)))(kEnc)
      .flatMapGroups { (key: Row, rows: Iterator[Row]) =>
        var n = 0L
        var sum = java.math.BigDecimal.ZERO
        // counts may go NEGATIVE (r19): the fold is UNORDERED (Spark
        // gives no within-group order here), so a retract can precede
        // the accumulate it cancels — a clamped remove would leave a
        // ghost value corrupting MIN/MAX once partitions shuffle. A
        // negative count is that retract's debt; the pair nets to zero
        // and every op commutes, so fold order is genuinely irrelevant.
        val multiset = scala.collection.mutable.TreeMap.empty[Double, Long]
        rows.foreach { r =>
          val v = r.getDouble(valIdx)
          val dec = new java.math.BigDecimal(v)
            .setScale(6, java.math.RoundingMode.HALF_UP)
          val retract = r.getString(kindIdx) match {
            case RowKind.UpdateBefore | RowKind.Delete => true
            case _ => false
          }
          val delta = if (retract) -1L else 1L
          if (retract) { n -= 1; sum = sum.subtract(dec) }
          else { n += 1; sum = sum.add(dec) }
          val c = multiset.getOrElse(v, 0L) + delta
          if (c == 0L) multiset.remove(v) else multiset.update(v, c)
        }
        if (n <= 0) Iterator.empty
        else {
          val live = multiset.iterator.filter(_._2 > 0).map(_._1).toSeq
          Iterator.single(Row.fromSeq(key.toSeq ++ Seq[Any](
            n, sum.doubleValue(), live.head, live.last)))
        }
      }(oEnc)
  }
}

/** Retract-consuming AND retraction-emitting group aggregation — the
  * composition tier that makes agg→agg changelog chains work (VERDICT r2
  * gap #2). Input is a changelog (`+I`/`+U` accumulate, `-U`/`-D` retract);
  * output is itself a changelog of the per-key aggregate row: `+I` when a
  * key first becomes live, `-U`(old)/`+U`(new) on every change, `-D` when
  * its live set empties.
  *
  * Reference: RT/operators/aggregate/GroupAggFunction.java:33 drives
  * accumulate/retract from the input RowKind and emits UPDATE_BEFORE/
  * UPDATE_AFTER; the retractable accumulators mirror the
  * *WithRetractAggFunction family (MinWithRetractAggFunction keeps a
  * value→count multiset so a retracted current-min falls back).
  *
  * Aggregates: n_live (COUNT), sum_v (exact: per-element double→decimal
  * scale-6 HALF_UP, decimal addition — retract(accumulate(x)) is the exact
  * identity), min_v / max_v (multiset-backed). Per-key state is the
  * accumulator: O(distinct live values) for min/max, same bound as the
  * reference's retract functions.
  *
  * Batch face: secondary-sorted replay per key in `orderCols` order
  * emitting the FULL transition history — the deterministic equivalent of
  * what the streaming form emits over time, so a downstream retract
  * consumer sees a real changelog (with -U/+U/-D traffic) even in batch,
  * and the materialized final state is oracle-checkable.
  * Streaming face: `flatMapGroupsWithState`, one `-U`/`+U` pair per key
  * per micro-batch (the reference's minibatch emission).
  */
object RetractingChangelogAgg {

  private def aggFields(emitDistinct: Boolean) = Seq(
    StructField("n_live", LongType),
    StructField("sum_v", DoubleType),
    StructField("min_v", DoubleType),
    StructField("max_v", DoubleType)) ++
    (if (emitDistinct) Seq(StructField("n_distinct", LongType)) else Nil)

  /** Mutable retractable accumulator (count + exact decimal sum + value
    * multiset). */
  private final class Acc(
      var n: Long,
      var sum: java.math.BigDecimal,
      val multiset: scala.collection.mutable.TreeMap[Double, Long]) {

    def this() = this(
      0L, java.math.BigDecimal.ZERO,
      scala.collection.mutable.TreeMap.empty[Double, Long])

    // entries with count < 0 are DEBT — a retract folded before the
    // accumulate it cancels (the fold is unordered); kept so the pair
    // nets to zero and every op commutes regardless of arrival order
    private var debt: Int = multiset.count(_._2 < 0)

    def update(v: Double, retract: Boolean): Unit = {
      val dec = new java.math.BigDecimal(v)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      if (retract) { n -= 1; sum = sum.subtract(dec) }
      else { n += 1; sum = sum.add(dec) }
      val prev = multiset.getOrElse(v, 0L)
      val c = prev + (if (retract) -1L else 1L)
      if (c == 0L) {
        multiset.remove(v)
        if (prev < 0L) debt -= 1
      } else {
        multiset.update(v, c)
        if (prev == 0L && c < 0L) debt += 1
      }
    }

    def live: Boolean = n > 0
    def values(emitDistinct: Boolean): Seq[Any] = {
      val (mn, mx, distinct) =
        if (debt == 0)
          (multiset.firstKey, multiset.lastKey, multiset.size.toLong)
        else {
          val liveKeys = multiset.iterator.filter(_._2 > 0).map(_._1).toSeq
          (liveKeys.head, liveKeys.last, liveKeys.size.toLong)
        }
      val base = Seq[Any](n, sum.doubleValue(), mn, mx)
      if (emitDistinct) base :+ distinct else base
    }
    def snapshot: (Long, String, Map[Double, Long]) =
      (n, sum.toPlainString, multiset.toMap)
  }

  private def accOf(s: (Long, String, Map[Double, Long])): Acc = {
    val m = scala.collection.mutable.TreeMap.empty[Double, Long]
    m ++= s._3
    new Acc(s._1, new java.math.BigDecimal(s._2), m)
  }

  private def isRetract(kind: String): Boolean =
    kind == RowKind.UpdateBefore || kind == RowKind.Delete

  /** @param seqFromInput false (default): output `__seq` is a per-key
    *        emission counter — unique within each output key, the right
    *        domain for a downstream keep-last materializer or re-agg.
    *        true: output `__seq` = 4·(triggering input `__seq`) +
    *        2·(input row is an accumulate) + (emission is the accumulate
    *        of its pair) — a monotone affine transform of the inputs'
    *        GLOBAL sequence domain, so the output changelog can feed
    *        [[ChangelogJoin]] (align the other join input by scaling its
    *        seq ×4). Requires globally unique input seqs per change (a
    *        CDC log position qualifies), and `orderCols` should order
    *        retract rows before the accumulate sharing their seq.
    */
  /** @param emitDistinct append an `n_distinct` column (the live value
    *        multiset's key count — COUNT(DISTINCT v) with retraction
    *        support, zero extra state: the multiset is already there).
    *        Default false keeps the long-standing 4-column output shape. */
  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      valCol: String,
      orderCols: Seq[Column] = Seq(col(RowKind.seqCol)),
      seqFromInput: Boolean = false,
      idleTtlMs: Option[Long] = None,
      emitDistinct: Boolean = false): DataFrame = {

    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val valIdx = df.schema.fieldIndex(valCol)
    val kindIdx = df.schema.fieldIndex(RowKind.kindCol)
    val seqIdx = df.schema.fieldIndex(RowKind.seqCol)
    val outSchema = StructType(
      keyIdx.map(df.schema.fields(_)) ++ aggFields(emitDistinct) :+
        StructField(RowKind.kindCol, StringType) :+
        StructField(RowKind.seqCol, LongType))

    // Transition emission shared by both faces: diff the last emitted
    // aggregate row against the accumulator's current value, stamping the
    // retract with `retSeq` and the accumulate with `accSeq`.
    def transitions(
        keyVals: Seq[Any],
        emitted: Option[Seq[Any]],
        acc: Acc,
        retSeq: Long,
        accSeq: Long): (Option[Seq[Any]], Seq[Row]) = {
      val now = if (acc.live) Some(acc.values(emitDistinct)) else None
      (emitted, now) match {
        case (None, Some(nw)) =>
          (now, Seq(Row.fromSeq(keyVals ++ nw :+ RowKind.Insert :+ accSeq)))
        case (Some(old), None) =>
          (None, Seq(Row.fromSeq(keyVals ++ old :+ RowKind.Delete :+ retSeq)))
        case (Some(old), Some(nw)) if old != nw =>
          (now, Seq(
            Row.fromSeq(keyVals ++ old :+ RowKind.UpdateBefore :+ retSeq),
            Row.fromSeq(keyVals ++ nw :+ RowKind.UpdateAfter :+ accSeq)))
        case _ => (emitted, Nil)
      }
    }

    if (!df.isStreaming) {
      return graft.operators.SecondarySort.mapOrderedGroups(
        df, keyCols, orderCols, outSchema) { (keyVals, rows) =>
        val acc = new Acc()
        var emitted: Option[Seq[Any]] = None
        var counter = 1L
        rows.flatMap { r =>
          val rowRetracts = isRetract(r.getString(kindIdx))
          acc.update(r.getAs[Number](valIdx).doubleValue(), rowRetracts)
          val (retSeq, accSeq) =
            if (seqFromInput) {
              val base = 4 * r.getLong(seqIdx) + (if (rowRetracts) 0 else 2)
              (base, base + 1)
            } else (counter, counter + 1)
          val (e2, outs) = transitions(keyVals, emitted, acc, retSeq, accSeq)
          emitted = e2
          // each transition consumes BOTH slots (retract + accumulate) so
          // a lone +I at accSeq can never collide with the next retSeq
          if (!seqFromInput && outs.nonEmpty) counter += 2
          outs
        }
      }
    }

    val keySchema = StructType(keyIdx.map(df.schema.fields(_)))
    val kEnc: Encoder[Row] = Encoders.row(keySchema)
    val vEnc: Encoder[Row] = Encoders.row(df.schema)
    // state: (next out seq, emitted agg row or null, acc snapshot)
    type S = (Long, Seq[Any], (Long, String, Map[Double, Long]))
    val sEnc: Encoder[S] = Encoders.kryo[S]
    val oEnc: Encoder[Row] = Encoders.row(outSchema)

    val timeoutConf = idleTtlMs match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout()
      case None => GroupStateTimeout.NoTimeout()
    }
    df.as[Row](vEnc)
      .groupByKey(r => Row.fromSeq(keyIdx.map(r.get)))(kEnc)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), timeoutConf) {
        (key: Row, rows: Iterator[Row], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            // idle TTL expired: drop EVERYTHING (the reference's
            // state.ttl — accumulator, emitted row, and the seq slot).
            // No tombstone is needed: counter mode under a TTL bases the
            // per-key emission seq on the batch's processing time (see
            // procBase below), so output emitted after an expiry always
            // out-seqs output from before it and keep-last
            // materialization cannot land on a stale pre-expiry row, no
            // matter how long the key stays silent.
            state.remove()
            Iterator.empty
          } else {
            val old = state.getOption
            val acc = old.map(s => accOf(s._3)).getOrElse(new Acc())
            var maxSeq = 0L
            rows.foreach { r =>
              acc.update(
                r.getAs[Number](valIdx).doubleValue(),
                isRetract(r.getString(kindIdx)))
              if (seqFromInput) maxSeq = math.max(maxSeq, r.getLong(seqIdx))
            }
            val emitted = old.flatMap(s => Option(s._2))
            // Counter mode with a TTL: the seq domain is REBASED each
            // micro-batch to processingTimeMs << 16 (2^16 slots per ms;
            // the agg consumes exactly 2 slots per key per batch — one
            // diff — so collisions would need >32k transitions of one
            // key inside one millisecond of batch time). The shift is
            // deliberately 16, not wider: downstream consumers compose
            // affine maps on seqs (a multi-join stamps 2*s + bit, a
            // seqFromInput agg 4*s + 3), and epoch-ms << 16 ≈ 1.2e17
            // leaves ~75x of Long headroom for such stacking where a
            // << 20 base would overflow at the third level. Expiry can
            // then drop state completely: a post-expiry re-insert is at
            // least one TTL of wall clock later, so its base out-seqs
            // every pre-expiry emission — assuming the processing-time
            // clock does not step backwards across a restart (the same
            // monotonicity Spark's own ProcessingTimeTimeout timers
            // assume; a regressed clock can let a pre-expiry row win
            // keep-last until the clock passes its old reading). Without
            // a TTL the base stays 1 (deterministic batch-face seqs, as
            // the oracles record).
            val procBase =
              if (idleTtlMs.isDefined && !seqFromInput)
                state.getCurrentProcessingTimeMs << 16
              else 1L
            ClockMonotonicity.check(
              old.map(_._1).getOrElse(1L), procBase, "ChangelogAgg")
            val seq0 = math.max(old.map(_._1).getOrElse(1L), procBase)
            val (retSeq, accSeq) =
              if (seqFromInput) (4 * maxSeq + 2, 4 * maxSeq + 3)
              else (seq0, seq0 + 1)
            val (e2, outs) =
              transitions(key.toSeq, emitted, acc, retSeq, accSeq)
            if (!acc.live && e2.isEmpty) {
              // key is dead. Counter mode keeps a seq-only tombstone for
              // the same reason as ever: a later re-insert must out-seq
              // the -D this key already emitted. With a TTL the
              // tombstone only needs to survive same-millisecond
              // micro-batches (procBase covers everything later), so it
              // rides the normal 1× timeout and expiry drops it — dead
              // keys don't accumulate.
              val seqNext = seq0 + (if (outs.nonEmpty) 2 else 0)
              val neverEmitted = old.isEmpty && outs.isEmpty
              if (seqFromInput || neverEmitted) state.remove()
              else {
                state.update((seqNext, null, new Acc().snapshot))
                idleTtlMs.foreach(state.setTimeoutDuration)
              }
            } else {
              state.update(
                (seq0 + (if (outs.nonEmpty) 2 else 0), e2.orNull,
                  acc.snapshot))
              idleTtlMs.foreach(state.setTimeoutDuration)
            }
            outs.iterator
          }
      }(sEnc, oEnc)
  }
}

/** Runtime detection for the TTL'd counter-mode clock assumption (ADVICE
  * r16): the processing-time seq base makes post-expiry output out-seq
  * pre-expiry output ASSUMING the wall clock never steps backwards across
  * a restart. A regression is a silent failure mode (a stale pre-expiry
  * row can win keep-last materialization until the clock passes its old
  * reading), so the stateful ops WARN — once per JVM, not per key — when
  * a key's stored seq sits a full millisecond-slot above the current
  * base (same-ms micro-batches only ever lead the base by a few units).
  */
private[changelog] object ClockMonotonicity {
  @volatile private var warned = false
  def check(storedSeq: Long, procBase: Long, op: String): Unit =
    if (!warned && procBase > 1L && storedSeq - procBase > (1L << 16)) {
      warned = true
      System.err.println(
        s"[graft] WARN $op: processing-time clock regressed " +
          s"~${(storedSeq - procBase) >> 16} ms behind stored state " +
          "(restart onto an earlier wall clock?) — keep-last " +
          "materialization may prefer pre-restart rows until the clock " +
          "passes its old reading")
    }
}

/** Strip `-U` rows when the downstream operator doesn't need pre-images
  * (reference: StreamExecDropUpdateBefore.java:55 — a pure filter). */
object DropUpdateBefore {
  def apply(df: DataFrame): DataFrame =
    df.where(col(RowKind.kindCol) =!= RowKind.UpdateBefore)
}

/** Materialize a changelog into final table state: last image per key wins
  * (by `__seq`), keys whose last change is `-D` disappear — the sink-side
  * MERGE the reference performs in SinkUpsertMaterializer.java:64.
  *
  * Usable directly on a batch changelog, or per micro-batch inside
  * `foreachBatch` against a stored table (read stored + union batch +
  * materialize + overwrite = idempotent upsert sink).
  */
object UpsertMaterialize {

  def apply(changelog: DataFrame, keyCols: Seq[String]): DataFrame =
    graft.operators.Dedup
      .keepLast(
        changelog.where(col(RowKind.kindCol) =!= RowKind.UpdateBefore),
        keyCols.map(col),
        Seq(col(RowKind.seqCol)))
      .where(col(RowKind.kindCol) =!= RowKind.Delete)
      .drop(RowKind.kindCol, RowKind.seqCol)
}
