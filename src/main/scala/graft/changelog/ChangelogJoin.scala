package graft.changelog

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Changelog-consuming equi-join: both inputs are changelogs (`__rowkind` +
  * `__seq`), the output is an UPSERT changelog of joined rows keyed by
  * (left upsert key, right upsert key) — `+U` when a pairing (re)appears,
  * `-D` when a pairing dies. This is the tier that lets agg→join pipelines
  * compose: e.g. joining two continuously-updated aggregates (VERDICT r2
  * gap #1).
  *
  * Reference: RT/operators/join/stream/StreamingJoinOperator.java:38 —
  * two-input co-processing with per-side join-state views
  * (…/join/stream/state/JoinRecordStateViews.java); this is the
  * InputSideHasUniqueKey view: state = live row per upsert key per side,
  * scoped to the join key.
  *
  * Spark-first mapping (no two-input stateful operator exists): the
  * StreamingTemporalJoin union-envelope pattern — both sides are wrapped in
  * a common envelope, unioned, hash-shuffled ONCE on the join key, and
  * co-processed per key. On an accumulate (`+I`/`+U`) the row is upserted
  * into its side's state and emits `+U` against every live row of the
  * other side; on a retract (`-U`/`-D`) it is removed and emits `-D` for
  * each pairing it participated in.
  *
  * Output `__seq` = 2 × (triggering input row's `__seq`) + 1 for
  * accumulates, + 0 for retracts — an update's `-U`/`+U` pair shares one
  * input seq, and the doubling keeps "pairing died" vs "pairing reborn at
  * the same instant" ordered for downstream keep-last materialization.
  * Contract: the two inputs' `__seq` values come from ONE global sequence
  * domain with unique values per change (a CDC log position) — the same
  * assumption the reference makes when it trusts upstream changelog order.
  * Seq-domain headroom: each changelog tier maps seq → 2·seq + krank, so
  * chaining k tiers multiplies the domain by 2^k; inputs must keep their
  * seq values below Long.MaxValue / 2^k (a CDC log position has ~19 digits
  * of headroom — far beyond any real log — but a caller packing bits into
  * the high end of the Long would overflow silently).
  * Inputs must be FULL changelogs (with `-U` pre-images): a join-key-
  * changing update's `-U` is what reaches the OLD join-key group to kill
  * its pairings.
  *
  * Scale: one shuffle on the join key; state = live rows per join key per
  * side (exactly the reference's bound); a hot join key costs its join
  * product — inherent to join semantics, AQE-visible as ordinary key skew.
  * Batch face: secondary-sorted replay (external sort, streamed groups,
  * O(live rows per key) heap) emitting the FULL changelog. Streaming
  * face: sorts only within a micro-batch's per-key slice and emits the
  * NET change per touched pairing per micro-batch (r19) — intra-batch
  * churn (outer pads born and retracted by a later event of the same
  * batch, an update chain's intermediate images) folds away, exactly the
  * reference's minibatch join suppression
  * (MiniBatchStreamingJoinOperator.java:234, bundle/
  * JoinKeyContainsUniqueKeyBundle.java); keep-last materialization and
  * signed aggregation read identical results from either emission form.
  */
object ChangelogJoin {

  /** Pairing identity of an emitted join row: each slot holds that
    * side's upsert-key value, or [[PadSlot]] for the null-padded side of
    * an outer-join pad row (a sentinel, so a genuinely-NULL key value
    * cannot collide with a pad). */
  private final case class PairKey(l: Any, r: Any)
  private case object PadSlot

  /** Streaming-face join-state codec, format v2 (r20, VERDICT r19 task 1).
    *
    * The state was `Encoders.kryo[(Map[Any, Seq[Any]], Map[Any, Seq[Any]])]`
    * — a reflection-walked object graph (re)serialized for every touched
    * join key every micro-batch, the measured CPU floor of the CDC join
    * tiers. v2 stores each side's live payload rows as length-prefixed
    * UnsafeRow bytes (the payload schemas are known exactly), behind a
    * magic header; map keys are re-derived from the payload's upsert-key
    * slot on decode, and row order is insertion order (the Kryo form
    * round-tripped through unordered immutable Maps, so v2's ordering is
    * strictly more deterministic).
    *
    * STATE-FORMAT EPOCH: both encoders materialize to the identical
    * state-store schema (a single nullable `value: binary` column), so a
    * checkpoint written by either format restores under the other's
    * query. [[decode]] dispatches on the magic header — a blob without it
    * is an old Kryo checkpoint and replays through the same
    * `SparkEnv`-configured KryoSerializer that `Encoders.kryo` uses
    * (`SerializerSupport.newSerializer`), byte-compatible with the 13
    * pinned restore fixtures; the first batch after restore then writes
    * v2. The magic's first byte (0x8F) cannot begin one of those Kryo
    * blobs: as a Kryo varint class id it would need a registration id
    * ≥ 9103 followed by exactly this 7-byte tail — and the pinned
    * fixtures are additionally replayed in-spec (RestoreCompatSpec), so a
    * collision would fail loudly there, not corrupt silently. */
  private[graft] final class JoinStateCodec(
      lType: StructType, rType: StructType) extends Serializable {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow

    @transient private lazy val lSer =
      ExpressionEncoder(lType).resolveAndBind().createSerializer()
    @transient private lazy val rSer =
      ExpressionEncoder(rType).resolveAndBind().createSerializer()
    @transient private lazy val lDes =
      ExpressionEncoder(lType).resolveAndBind().createDeserializer()
    @transient private lazy val rDes =
      ExpressionEncoder(rType).resolveAndBind().createDeserializer()
    // Kryo decoder for pre-v2 checkpoint blobs: the same serializer
    // Encoders.kryo resolves at runtime, so it needs the live SparkEnv
    // conf — a default conf would miss the writer's Kryo registration.
    @transient private lazy val kryo = {
      val env = Option(org.apache.spark.SparkEnv.get).getOrElse(
        throw new IllegalStateException(
          "decoding a pre-v2 (Kryo) changelog-join state blob needs a " +
            "live SparkEnv: its Kryo settings (spark.kryo.registrator, " +
            "registrationRequired) must match the writer's"))
      new org.apache.spark.serializer.KryoSerializer(env.conf).newInstance()
    }

    private def writeSide(
        out: java.io.DataOutputStream,
        rows: Iterable[Seq[Any]],
        ser: ExpressionEncoder.Serializer[Row]): Unit = {
      out.writeInt(rows.size)
      rows.foreach { pay =>
        val b = ser(Row.fromSeq(pay)).asInstanceOf[UnsafeRow].getBytes
        out.writeInt(b.length)
        out.write(b)
      }
    }

    private def readSide(
        in: java.io.DataInputStream,
        des: ExpressionEncoder.Deserializer[Row],
        width: Int): Seq[Seq[Any]] = {
      val n = in.readInt()
      val rows = new scala.collection.mutable.ArrayBuffer[Seq[Any]](n)
      val ur = new UnsafeRow(width)
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val buf = new Array[Byte](len)
        in.readFully(buf)
        ur.pointTo(buf, len)
        rows += des(ur).toSeq
        i += 1
      }
      rows.toSeq
    }

    def encode(
        l: Iterable[Seq[Any]], r: Iterable[Seq[Any]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(256)
      val out = new java.io.DataOutputStream(bos)
      out.write(JoinStateCodec.Magic)
      writeSide(out, l, lSer)
      writeSide(out, r, rSer)
      out.flush()
      bos.toByteArray
    }

    /** Both sides' live payload rows, in live-map iteration order; the
      * caller rebuilds the keyed maps from the payloads' key slots. */
    def decode(bytes: Array[Byte]): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      if (JoinStateCodec.isV2(bytes)) {
        val m = JoinStateCodec.Magic.length
        val in = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(bytes, m, bytes.length - m))
        (readSide(in, lDes, lType.length), readSide(in, rDes, rType.length))
      } else {
        val (l, r) = kryo.deserialize[
          (Map[Any, Seq[Any]], Map[Any, Seq[Any]])](
          java.nio.ByteBuffer.wrap(bytes))
        (l.values.toSeq, r.values.toSeq)
      }
    }
  }

  private[graft] object JoinStateCodec {
    val Magic: Array[Byte] = Array(
      0x8F.toByte, 'G'.toByte, 'J'.toByte, 'S'.toByte, '2'.toByte,
      0xE3.toByte, 0x71.toByte, 0xAC.toByte)

    /** The blob is in the v2 layout: it begins with [[Magic]]. */
    def isV2(bytes: Array[Byte]): Boolean =
      bytes.length > Magic.length &&
        java.util.Arrays.equals(bytes, 0, Magic.length, Magic, 0, Magic.length)

    /** A join side's stored payload: its input's columns less the
      * changelog's `__rowkind` and `__seq`. */
    def payload(input: StructType): StructType =
      StructType(input.filterNot(f =>
        f.name == RowKind.kindCol || f.name == RowKind.seqCol))
  }

  def apply(
      left: DataFrame,
      right: DataFrame,
      leftJoinKey: String,
      rightJoinKey: String,
      leftKey: String,
      rightKey: String): DataFrame =
    apply(left, right, leftJoinKey, rightJoinKey, leftKey, rightKey,
      joinType = "inner")

  /** @param joinType "inner" | "left" | "right" | "full" — the outer
    *        variants pad an unmatched row with nulls and RETRACT the
    *        padded row the moment a match appears (re-padding when the
    *        last match dies) — the reference's streaming outer-join
    *        null-padding protocol (StreamingJoinOperator's outerJoin
    *        paths). Padded rows materialize under (leftKey, NULL) /
    *        (NULL, rightKey), so keep-last by (leftKey, rightKey) yields
    *        exactly the SQL OUTER JOIN of the final states. */
  def apply(
      left: DataFrame,
      right: DataFrame,
      leftJoinKey: String,
      rightJoinKey: String,
      leftKey: String,
      rightKey: String,
      joinType: String): DataFrame =
    apply(left, right, leftJoinKey, rightJoinKey, leftKey, rightKey,
      joinType, idleTtlMs = None)

  /** @param idleTtlMs streaming-face idle-state retention — the
    *        reference's `table.exec.state.ttl` (processing-time based):
    *        a join key receiving no events for this long has BOTH sides'
    *        live-row state dropped. The documented correctness trade is
    *        the reference's own: events arriving after expiry re-pair
    *        against the post-expiry state only. None (default) keeps
    *        state for the stream's lifetime — exact join semantics. */
  def apply(
      left: DataFrame,
      right: DataFrame,
      leftJoinKey: String,
      rightJoinKey: String,
      leftKey: String,
      rightKey: String,
      joinType: String,
      idleTtlMs: Option[Long]): DataFrame = {
    require(Seq("inner", "left", "right", "full").contains(joinType),
      s"unsupported joinType: $joinType")
    // padLeft: unmatched LEFT rows survive null-padded (left/full outer);
    // padRight: unmatched RIGHT rows survive null-padded (right/full)
    val padLeft = joinType == "left" || joinType == "full"
    val padRight = joinType == "right" || joinType == "full"

    val lType = JoinStateCodec.payload(left.schema)
    val rType = JoinStateCodec.payload(right.schema)
    val lPayF = lType.fields
    val rPayF = rType.fields
    val clash = lPayF.map(_.name).toSet.intersect(rPayF.map(_.name).toSet)
    require(clash.isEmpty, s"column name clash across sides: $clash")
    // mismatched key types would only surface later as an opaque
    // unionByName failure on the __jk envelope column — check up front
    val lJkType = left.schema(leftJoinKey).dataType
    val rJkType = right.schema(rightJoinKey).dataType
    require(lJkType == rJkType,
      s"join key types differ: $leftJoinKey is $lJkType but " +
        s"$rightJoinKey is $rJkType — cast one side explicitly")

    // outer variants pad a payload with nulls — force nullability
    val lPayOut =
      if (padRight) lPayF.map(_.copy(nullable = true)) else lPayF
    val rPayOut =
      if (padLeft) rPayF.map(_.copy(nullable = true)) else rPayF
    val outSchema = StructType(
      (lPayOut ++ rPayOut) :+
        StructField(RowKind.kindCol, StringType) :+
        StructField(RowKind.seqCol, LongType))

    val lkIdx = lPayF.indexWhere(_.name == leftKey)
    val rkIdx = rPayF.indexWhere(_.name == rightKey)
    require(lkIdx >= 0 && rkIdx >= 0, "upsert key must be a payload column")

    // __krank orders a retract before the accumulate that shares its seq
    // (an update's -U/+U pair) during the per-key replay.
    val krank = when(
      col(RowKind.kindCol) === RowKind.UpdateBefore ||
        col(RowKind.kindCol) === RowKind.Delete, 0).otherwise(1)
    // SQL inner-equi-join semantics: NULL join keys never match — drop
    // them before the shuffle (they would otherwise co-group and pair)
    val lNn = left.where(col(leftJoinKey).isNotNull)
    val rNn = right.where(col(rightJoinKey).isNotNull)
    val lEnv = lNn.select(
      col(leftJoinKey).as("__jk"),
      lit(0).as("__side"),
      col(RowKind.seqCol).as("__seqe"),
      col(RowKind.kindCol).as("__kind"),
      krank.as("__krank"),
      struct(lPayF.map(f => col(f.name)): _*).as("__l"),
      lit(null).cast(rType).as("__r"))
    val rEnv = rNn.select(
      col(rightJoinKey).as("__jk"),
      lit(1).as("__side"),
      col(RowKind.seqCol).as("__seqe"),
      col(RowKind.kindCol).as("__kind"),
      krank.as("__krank"),
      lit(null).cast(lType).as("__l"),
      struct(rPayF.map(f => col(f.name)): _*).as("__r"))
    val env = lEnv.unionByName(rEnv, allowMissingColumns = false)

    type SideState = scala.collection.mutable.LinkedHashMap[Any, Seq[Any]]

    val rNulls: Seq[Any] = rPayF.map(_ => null).toSeq
    val lNulls: Seq[Any] = lPayF.map(_ => null).toSeq

    // Join-state transition step shared by both faces. Envelope layout:
    // 0 __jk, 1 __side, 2 __seqe, 3 __kind, 4 __krank, 5 __l, 6 __r.
    // Padding protocol (symmetric): a side's rows are null-padded while
    // the OTHER side's state is empty; the first arriving match retracts
    // every pad, the last dying match restores them.
    // Each emission is tagged with its pairing identity ([[PairKey]]) so
    // the streaming face can net out intra-batch churn (below); the
    // batch face drops the tag.
    def step(e: Row, lState: SideState, rState: SideState)
        : Seq[(PairKey, Row)] = {
      val kind = e.getString(3)
      val retract =
        kind == RowKind.UpdateBefore || kind == RowKind.Delete
      val outSeq = 2 * e.getLong(2) + (if (retract) 0L else 1L)
      val lN = lPayF.length
      val rN = rPayF.length
      // single array fill per emission (r20): the Seq-concatenation form
      // (`l ++ r :+ k :+ seq`) copied every emitted row 3-4 times — pure
      // constant-factor overhead on the hot path of both faces. An
      // unfilled side stays null = the outer-join pad.
      def mk(l: Seq[Any], r: Seq[Any], k: String): Row = {
        val arr = new Array[Any](lN + rN + 2)
        if (l != null) { var i = 0; l.foreach { v => arr(i) = v; i += 1 } }
        if (r != null) {
          var i = lN; r.foreach { v => arr(i) = v; i += 1 } }
        arr(lN + rN) = k
        arr(lN + rN + 1) = outSeq
        new org.apache.spark.sql.catalyst.expressions.GenericRow(arr)
      }
      def pair(l: Seq[Any], r: Seq[Any], k: String): (PairKey, Row) =
        (PairKey(l(lkIdx), r(rkIdx)), mk(l, r, k))
      def lPad(l: Seq[Any], k: String): (PairKey, Row) =
        (PairKey(l(lkIdx), PadSlot), mk(l, null, k))
      def rPad(r: Seq[Any], k: String): (PairKey, Row) =
        (PairKey(PadSlot, r(rkIdx)), mk(null, r, k))
      if (e.getInt(1) == 0) {
        val pay = e.getStruct(5).toSeq
        val k = pay(lkIdx)
        if (retract) lState.remove(k) match {
          case Some(old) =>
            if (rState.isEmpty)
              if (padLeft) Seq(lPad(old, RowKind.Delete)) else Nil
            else {
              val outs =
                rState.values.map(pair(old, _, RowKind.Delete)).toSeq
              // last left row gone: right rows become unmatched again
              if (padRight && lState.isEmpty)
                outs ++ rState.values.map(rPad(_, RowKind.UpdateAfter))
              else outs
            }
          case None => Nil
        } else {
          val wasLEmpty = lState.isEmpty
          lState.update(k, pay)
          if (rState.isEmpty)
            if (padLeft) Seq(lPad(pay, RowKind.UpdateAfter)) else Nil
          else {
            val outs =
              rState.values.map(pair(pay, _, RowKind.UpdateAfter)).toSeq
            // first left row: the right side stops being unmatched
            if (padRight && wasLEmpty)
              rState.values.map(rPad(_, RowKind.Delete)).toSeq ++ outs
            else outs
          }
        }
      } else {
        val pay = e.getStruct(6).toSeq
        val k = pay(rkIdx)
        if (retract) rState.remove(k) match {
          case Some(old) =>
            if (lState.isEmpty)
              if (padRight) Seq(rPad(old, RowKind.Delete)) else Nil
            else {
              val outs =
                lState.values.map(pair(_, old, RowKind.Delete)).toSeq
              // last match died: every left row becomes unmatched again
              if (padLeft && rState.isEmpty)
                outs ++ lState.values.map(lPad(_, RowKind.UpdateAfter))
              else outs
            }
          case None => Nil
        } else {
          val wasREmpty = rState.isEmpty
          rState.update(k, pay)
          if (lState.isEmpty)
            if (padRight) Seq(rPad(pay, RowKind.UpdateAfter)) else Nil
          else {
            val outs =
              lState.values.map(pair(_, pay, RowKind.UpdateAfter)).toSeq
            // first match appeared: retract the left pads
            if (padLeft && wasREmpty)
              lState.values.map(lPad(_, RowKind.Delete)).toSeq ++ outs
            else outs
          }
        }
      }
    }

    if (!env.isStreaming) {
      return graft.operators.SecondarySort.mapOrderedGroups(
        env, Seq("__jk"), Seq(col("__seqe"), col("__krank"), col("__side")),
        outSchema) { (_, rows) =>
        val lState: SideState = scala.collection.mutable.LinkedHashMap.empty
        val rState: SideState = scala.collection.mutable.LinkedHashMap.empty
        rows.flatMap(e => step(e, lState, rState).map(_._2))
      }
    }

    // The final image of pairing `pk` under side states (l, r): Some(
    // payload) when alive, None when dead. Pads are alive only while the
    // other side's state is empty (the padding protocol above).
    def image(
        pk: PairKey,
        l: scala.collection.Map[Any, Seq[Any]],
        r: scala.collection.Map[Any, Seq[Any]]): Option[Seq[Any]] =
      (pk.l, pk.r) match {
        case (PadSlot, rk) =>
          if (padRight && l.isEmpty) r.get(rk).map(lNulls ++ _) else None
        case (lk, PadSlot) =>
          if (padLeft && r.isEmpty) l.get(lk).map(_ ++ rNulls) else None
        case (lk, rk) =>
          for { lp <- l.get(lk); rp <- r.get(rk) } yield lp ++ rp
      }

    val jkField = env.schema.fields(0)
    val kEnc: Encoder[Row] = Encoders.row(StructType(Seq(jkField)))
    val vEnc: Encoder[Row] = Encoders.row(env.schema)
    // state: (left live rows, right live rows) — format v2, UnsafeRow
    // bytes behind a magic header, old Kryo checkpoints replayed via the
    // codec's fallback path (see [[JoinStateCodec]]); the state-store
    // schema (one nullable binary column) is identical to the Kryo
    // encoder's, so existing checkpoints restore without a layout change
    val codec = new JoinStateCodec(lType, rType)
    // the Kryo encoder's state column was `value: binary NOT NULL`; the
    // plain binary encoder is nullable, and the state-store schema check
    // rejects that as a widening — pin non-nullability (the codec never
    // yields null) so old checkpoints restore byte-compatibly
    val sEnc: Encoder[Array[Byte]] = {
      val e = org.apache.spark.sql.catalyst.encoders
        .encoderFor(Encoders.BINARY)
      e.copy(objSerializer =
        org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
          e.objSerializer))
    }
    val oEnc: Encoder[Row] = Encoders.row(outSchema)

    val timeoutConf = idleTtlMs match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout()
      case None => GroupStateTimeout.NoTimeout()
    }
    env.as[Row](vEnc)
      .groupByKey(r => Row(r.get(0)))(kEnc)
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Append(), timeoutConf) {
        (_: Row, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            // idle TTL expired: drop both sides' live rows (state.ttl)
            state.remove()
            Iterator.empty
          } else {
            val (oldLRows, oldRRows) = state.getOption.map(codec.decode)
              .getOrElse((Seq.empty[Seq[Any]], Seq.empty[Seq[Any]]))
            val oldL: SideState = scala.collection.mutable.LinkedHashMap
              .from(oldLRows.iterator.map(p => p(lkIdx) -> p))
            val oldR: SideState = scala.collection.mutable.LinkedHashMap
              .from(oldRRows.iterator.map(p => p(rkIdx) -> p))
            val lState: SideState = oldL.clone()
            val rState: SideState = oldR.clone()
            // Net emission per micro-batch (r19, guide §2.3 "shuffle
            // fewer bytes"; ref MiniBatchStreamingJoinOperator.java:234 —
            // the reference's minibatch join folds redundant changelog
            // pairs the same way): replay the batch slice through the
            // shared step to advance state and learn WHICH pairings it
            // touches, then emit only each touched pairing's pre→post
            // transition — `-D`(pre) / `+U`(post) when the image changed,
            // nothing when it ends where it started. Intra-batch churn
            // (an outer pad born and retracted by a later event of the
            // same batch, an update's intermediate images) never reaches
            // the shuffle or the sink MERGE. Net-vs-eager equivalence for
            // both downstream consumers: keep-last materialization reads
            // the same final image per pairing, and signed aggregation
            // reads the same net contribution (the dropped +U/-D pairs
            // cancel exactly). Seq stamps keep the retract-slot protocol:
            // -D at 2·s, +U at 2·s+1 of the pairing's last touching event.
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            val touched =
              scala.collection.mutable.LinkedHashMap.empty[PairKey, Long]
            rows.toSeq
              .sortBy(e => (e.getLong(2), e.getInt(4), e.getInt(1)))
              .foreach { e =>
                step(e, lState, rState).foreach { case (pk, row) =>
                  touched.update(pk, row.getLong(row.length - 1))
                }
              }
            touched.foreach { case (pk, lastSeq) =>
              val pre = image(pk, oldL, oldR)
              val post = image(pk, lState, rState)
              if (pre != post) {
                pre.foreach(p => out +=
                  Row.fromSeq(p :+ RowKind.Delete :+ (lastSeq & ~1L)))
                post.foreach(p => out +=
                  Row.fromSeq(p :+ RowKind.UpdateAfter :+ (lastSeq | 1L)))
              }
            }
            if (lState.isEmpty && rState.isEmpty) state.remove()
            else {
              state.update(codec.encode(lState.values, rState.values))
              idleTtlMs.foreach(state.setTimeoutDuration)
            }
            out.iterator
          }
      }(sEnc, oEnc)
  }
}
