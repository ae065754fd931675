package graft.streaming

import graft.changelog.ChangelogJoin.JoinStateCodec
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SavepointReader — the READ side of the state-processor surface
  * (reference: flink-libraries/flink-state-processing-api/…/
  * SavepointReader.java, WindowSavepointReader.java): enumerate a
  * checkpoint's stateful operators and read any operator's keyed state
  * back as DataFrames. Completes the round trip with [[StateBootstrap]]
  * (write) and subsumes [[StateQuery]] (single-store read).
  *
  * Layout coverage — the three state families every graft operator and
  * bootstrap writer uses:
  *   - Spark streaming AGGREGATION state ([[Savepoint.aggState]]):
  *     key columns + aggregation-buffer columns, both flattened;
  *   - Spark streaming DEDUP state ([[Savepoint.dedupKeys]]): the seen
  *     key set, flattened;
  *   - `flatMapGroupsWithState` state ([[Savepoint.groupState]]) — the
  *     layout ALL 12 restore-tier operators share (kryo-encoded state
  *     object per key): key columns + `timeout_ms` (when the operator
  *     arms timeouts, else absent) + `state_repr`, a deterministic
  *     canonical rendering (maps sorted by key) of the decoded object.
  *     [[Savepoint.changelogJoinState]] additionally decodes the
  *     changelog-join family's `(left, right)` side rows into one row
  *     per live stored row: key columns + `side` ("left"/"right") +
  *     `upsert_key` + `row_values`. A changelog-join blob in the v2
  *     layout (UnsafeRow bytes behind [[JoinStateCodec.Magic]]) does
  *     not say what its rows hold, so both readers take the join's
  *     input schemas and decode it through the operator's own codec.
  *
  * Scale: reads go through Spark's `statestore` DSv2 source — one task
  * per state partition, no driver materialization; the kryo decode runs
  * per-executor with a thread-local serializer. Delta vs the reference
  * (documented): the reference enumerates operators by uid from the
  * savepoint metadata; Spark checkpoints identify operators by integer
  * id, so [[Savepoint.operators]] enumerates ids from the state layout.
  */
object SavepointReader {

  final case class OperatorStateInfo(
      operatorId: Int,
      storeNames: Seq[String],
      numPartitions: Int)

  def read(spark: SparkSession, checkpoint: String): Savepoint =
    new Savepoint(spark, checkpoint)

  /** Thread-local kryo decode matching `Encoders.kryo`'s wire format
    * (Spark's KryoSerializer under default registration). */
  private object Decode extends Serializable {
    @transient private lazy val ser = new ThreadLocal[
      org.apache.spark.serializer.SerializerInstance] {
      override def initialValue():
          org.apache.spark.serializer.SerializerInstance =
        new org.apache.spark.serializer.KryoSerializer(
          new org.apache.spark.SparkConf(false)).newInstance()
    }
    def obj(bytes: Array[Byte]): Any =
      ser.get.deserialize[Any](java.nio.ByteBuffer.wrap(bytes))
    /** Deterministic canonical rendering: map entries sorted, tuples and
      * seqs in order, timestamps as epoch millis. */
    def render(v: Any): String = v match {
      case null => "null"
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => render(k) + "->" + render(x) }
          .toSeq.sorted.mkString("{", ",", "}")
      case s: scala.collection.Iterable[_] =>
        s.map(render).mkString("[", ",", "]")
      case a: Array[_] => a.map(render).mkString("[", ",", "]")
      case t: java.sql.Timestamp => t.getTime.toString
      case p: Product if p.getClass.getName.startsWith("scala.Tuple") =>
        p.productIterator.map(render).mkString("(", ",", ")")
      case other => other.toString
    }
  }

  final class Savepoint(
      spark: SparkSession, checkpoint: String) extends Serializable {

    /** Operator ids present under `<checkpoint>/state`, with their named
      * stores ("default" when delta files sit directly in the partition
      * dir — the single-store layout every graft operator uses) and
      * partition counts. */
    def operators: Seq[OperatorStateInfo] = {
      // enumerate through Hadoop's filesystem, not java.io.File —
      // keyedState resolves the same string via Hadoop, so a non-local
      // checkpoint (hdfs://, s3a://) must list identically rather than
      // silently returning zero operators
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(checkpoint, "state")
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) return Seq.empty
      def dirs(p: org.apache.hadoop.fs.Path) =
        fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      val ops = dirs(root).filter(_.getName.forall(_.isDigit))
        .sortBy(_.getName.toInt)
      ops.map { op =>
        val parts = dirs(op).filter(_.getName.forall(_.isDigit))
        val sample = parts.sortBy(_.getName.toInt).headOption
        val named = sample.toSeq.flatMap(p =>
          // skip bookkeeping dirs (_metadata schema files) — a named
          // store (e.g. a stream-stream join's four) is a plain dir
          dirs(p).filterNot(_.getName.startsWith("_")).map(_.getName))
        OperatorStateInfo(
          op.getName.toInt,
          if (named.nonEmpty) named.sorted else Seq("default"),
          parts.length)
      }
    }

    /** Raw keyed state (key struct + value struct + partition_id) via
      * Spark's statestore source. */
    def keyedState(
        operatorId: Int = 0, storeName: String = "default"): DataFrame = {
      ensureCoordinator()
      val r = spark.read.format("statestore")
        .option("operatorId", operatorId)
      // only name non-default stores: Spark 4.1 rejects an explicit
      // storeName on operators without named stores
      (if (storeName == "default") r else r.option("storeName", storeName))
        .load(checkpoint)
    }

    /** Streaming-aggregation state: key and buffer columns flattened. */
    def aggState(operatorId: Int = 0): DataFrame =
      keyedState(operatorId).select(col("key.*"), col("value.*"))

    /** Streaming-dedup state: the seen keys, flattened. */
    def dedupKeys(operatorId: Int = 0): DataFrame =
      keyedState(operatorId).select(col("key.*"))

    private def valueFields(raw: DataFrame): Seq[String] =
      raw.schema("value").dataType.asInstanceOf[StructType].fieldNames.toSeq

    private def keyType(raw: DataFrame): StructType =
      raw.schema("key").dataType.asInstanceOf[StructType]

    /** `flatMapGroupsWithState` state — key columns + `timeout_ms` (only
      * when the operator arms timeouts) + `state_repr` (canonical
      * rendering of the decoded state object). `join` holds the
      * (left, right) input schemas of a changelog join, which its v2
      * blobs need; other blobs are kryo-decoded. */
    def groupState(
        operatorId: Int = 0,
        join: Option[(StructType, StructType)] = None): DataFrame = {
      val raw = keyedState(operatorId)
      val hasTimeout = valueFields(raw).contains("timeoutTimestamp")
      val cols =
        keyType(raw).fieldNames.toSeq.map(f => col(s"key.`$f`")) ++
          (if (hasTimeout)
            Seq(col("value.timeoutTimestamp").as("timeout_ms")) else Nil) :+
          col("value.groupState.value").as("__blob")
      val picked = raw.select(cols: _*)
      val codec = join.map { case (l, r) => joinCodec(l, r) }
      val reprUdf = udf((b: Array[Byte]) =>
        if (b == null) null
        else if (JoinStateCodec.isV2(b)) Decode.render(codec.getOrElse(
          throw new IllegalArgumentException(s"operator $operatorId " +
            "holds v2 changelog-join state: pass the join's input " +
            "schemas")).decode(b))
        else Decode.render(Decode.obj(b)))
      picked.withColumn("state_repr", reprUdf(col("__blob"))).drop("__blob")
    }

    /** Window-keyed operator state — the reference's WindowSavepointReader
      * parity: graft's windowed stateful operators key their state by
      * (user keys…, `__win_start` epoch-millis slice). Surfaces
      * `window_start`/`window_end` TIMESTAMP columns alongside
      * [[groupState]]'s decoded layout, given the operator's window size.
      */
    def windowState(operatorId: Int = 0, windowSizeMs: Long): DataFrame = {
      val gs = groupState(operatorId)
      require(gs.columns.contains("__win_start"),
        s"operator $operatorId state is not window-keyed (no __win_start)")
      gs.withColumn("window_start", timestamp_millis(col("__win_start")))
        .withColumn("window_end",
          timestamp_millis(col("__win_start") + lit(windowSizeMs)))
    }

    /** Changelog-join family state: one row per live stored row — key
      * columns + `side` + `upsert_key` + `row_values` (each value
      * canonically rendered). `left`/`right` are the join's input schemas
      * and `leftKey`/`rightKey` its upsert keys, as given to
      * [[graft.changelog.ChangelogJoin]]; blobs of either state format
      * decode through the operator's codec. */
    def changelogJoinState(
        left: StructType,
        right: StructType,
        leftKey: String,
        rightKey: String,
        operatorId: Int = 0): DataFrame = {
      val codec = joinCodec(left, right)
      val lk = JoinStateCodec.payload(left).fieldIndex(leftKey)
      val rk = JoinStateCodec.payload(right).fieldIndex(rightKey)
      val raw = keyedState(operatorId)
      val kt = keyType(raw)
      val outSchema = StructType(kt.fields.toSeq ++ Seq(
        StructField("side", StringType),
        StructField("upsert_key", StringType),
        StructField("row_values", ArrayType(StringType))))
      val enc: Encoder[Row] = Encoders.row(outSchema)
      raw.select(col("key"), col("value.groupState.value").as("__blob"))
        .flatMap { r =>
          val blob = r.getAs[Array[Byte]](1)
          if (blob == null) Seq.empty[Row] // key with no live state object
          else {
          val keyVals = r.getStruct(0).toSeq
          val (l, rr) = codec.decode(blob)
          def rows(side: String, k: Int, live: Seq[Seq[Any]]) =
            live.map(vals => Row.fromSeq(keyVals ++ Seq(side,
              Decode.render(vals(k)), vals.map(Decode.render))))
          rows("left", lk, l) ++ rows("right", rk, rr)
          }
        }(enc)
        .toDF(outSchema.fieldNames.toSeq: _*)
    }

    private def joinCodec(left: StructType, right: StructType) =
      new JoinStateCodec(
        JoinStateCodec.payload(left), JoinStateCodec.payload(right))

    /** The statestore source reports snapshot loads to the session's
      * StateStoreCoordinator endpoint, which only exists once a streaming
      * query has run — create it up front so purely-offline reads work. */
    private def ensureCoordinator(): Unit =
      try org.apache.spark.sql.execution.streaming.state
        .GraftStateCoordinator.ensure(spark)
      catch { case _: Throwable => () }
  }
}
