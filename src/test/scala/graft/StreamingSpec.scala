package graft

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.sql.Timestamp

/** Streaming-tier specs: every stateful operator is validated for
  * batch/stream parity — the SAME input rows through the streaming path
  * (MemoryStream + watermark + state + timeouts) and the batch path must
  * produce identical results once the watermark has closed all windows.
  * This mirrors the reference's ITCase pattern (WindowAggregateITCase,
  * TemporalJoinITCase, RankITCase, DeduplicateITCase) with the mini-cluster
  * replaced by local Structured Streaming.
  */
/** User-state shape for the mapGroupsWithState bootstrap test. */
case class RunningCount(n: Long)

class StreamingSpec extends SparkSpecBase {

  import spark.implicits._

  // Deterministic fixture: events at sf0.001, timestamps truncated to
  // millis (state ops do exact long-millis arithmetic), one row per
  // (user_id, ms) so no cross-engine tie-break ambiguity.
  private lazy val fixture: Seq[(Timestamp, Long, String, Double)] = {
    val rows = Tables.events(spark, sf)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getAs[Timestamp](0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
    rows
      .map { case (ts, u, e, v) => (new Timestamp(ts.getTime), u, e, v) }
      .groupBy(t => (t._2, t._1.getTime)).map(_._2.head)
      .toSeq.sortBy(t => (t._1.getTime, t._2))
  }

  private def flushTs: Timestamp =
    new Timestamp(fixture.map(_._1.getTime).max + 86400000L)

  /** Run a streaming pipeline over the fixture via MemoryStream, flushing
    * the watermark far enough to close every window, return the sink table.
    */
  private def runStream(
      name: String,
      pipeline: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-$name-").toString
    val q: StreamingQuery = pipeline(df).writeStream
      .format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try {
      input.addData(fixture)
      q.processAllAvailable()
      // two flush batches: first advances the watermark, second fires the
      // event-time timeouts it unlocked
      input.addData(Seq((flushTs, -1L, "flush", 0.0)))
      q.processAllAvailable()
      input.addData(Seq((new Timestamp(flushTs.getTime + 1000), -1L, "flush", 0.0)))
      q.processAllAvailable()
      spark.table(name)
    } finally q.stop()
  }

  private def batchInput: DataFrame =
    fixture.toDF("ts", "user_id", "event_type", "value")

  /** The flush rows live in windows that never close, so they never appear
    * in streaming output; drop them from batch-side expectations too. */
  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => math.round(d * 1e9) // tolerance for double sums
      case x => x
    }.toSeq).toSeq.sortBy(_.mkString("|"))

  test("streaming tumble window agg matches batch (append at window close)") {
    val out = runStream("s_tumble", df =>
      StreamingWindows.tumble(df, "ts", "10 minutes", "5 seconds",
        Seq(col("event_type")),
        Seq(count(lit(1)).as("cnt"), sum(col("value")).as("sv")))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"),
          col("sv")))
      .where(col("event_type") =!= "flush")
    val exp = StreamingWindows.tumble(batchInput, "ts", "10 minutes",
      "5 seconds", Seq(col("event_type")),
      Seq(count(lit(1)).as("cnt"), sum(col("value")).as("sv")))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"),
        col("sv"))
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("streaming session window agg matches batch") {
    val out = runStream("s_session", df =>
      StreamingWindows.session(df, "ts", "30 seconds", "5 seconds",
        Seq(col("user_id")),
        Seq(count(lit(1)).as("cnt")))
        .select(col("session_window.start").as("ws"), col("user_id"),
          col("cnt")))
      .where(col("user_id") =!= -1L)
    val exp = StreamingWindows.session(batchInput, "ts", "30 seconds",
      "5 seconds", Seq(col("user_id")), Seq(count(lit(1)).as("cnt")))
      .select(col("session_window.start").as("ws"), col("user_id"), col("cnt"))
      .where(col("user_id") =!= -1L)
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("StreamingDedupLast matches batch windowed keep-last") {
    val winMs = 600000L // 10 min
    val out = runStream("s_dedup", df =>
      StreamingDedupLast(df, Seq("user_id"), "ts", winMs, "5 seconds"))
      .where(col("user_id") =!= -1L)
    val exp = StreamingDedupLast(batchInput, Seq("user_id"), "ts", winMs, "")
      .where(col("user_id") =!= -1L)
      .select(out.columns.map(col): _*)
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("StreamingTopN matches batch windowed top-n") {
    val winMs = 3600000L // 1 h
    val out = runStream("s_topn", df =>
      StreamingTopN(df, Seq("event_type"), "ts", "value", 3, winMs,
        "5 seconds"))
      .where(col("event_type") =!= "flush")
    val exp = StreamingTopN(batchInput, Seq("event_type"), "ts", "value", 3,
      winMs, "")
      .where(col("event_type") =!= "flush")
      .select(out.columns.map(col): _*)
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("StreamingOver (rows-bounded preceding sum) matches batch window") {
    val out = runStream("s_over", df =>
      StreamingOver(df, Seq("user_id"), "ts", "value", 2, "5 seconds"))
      .where(col("user_id") =!= -1L)
    val exp = StreamingOver(batchInput, Seq("user_id"), "ts", "value", 2, "")
      .where(col("user_id") =!= -1L)
      .select(out.columns.map(col): _*)
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("StreamingOver.range (time-interval preceding sum) matches batch") {
    def prep(d: DataFrame): DataFrame =
      d.withColumn("v", floor(col("value") * 1e6).cast("long"))
    val out = runStream("s_over_rg", df =>
      StreamingOver.range(prep(df), Seq("user_id"), "ts", "v",
        300000L, "5 seconds"))
      .where(col("user_id") =!= -1L)
    val exp = StreamingOver.range(prep(batchInput), Seq("user_id"), "ts",
      "v", 300000L, "")
      .where(col("user_id") =!= -1L)
      .select(out.columns.map(col): _*)
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("StreamingOver.unbounded (since-forever running sum) matches batch") {
    def prep(d: DataFrame): DataFrame =
      d.withColumn("v", floor(col("value") * 1e6).cast("long"))
    val out = runStream("s_over_ub", df =>
      StreamingOver.unbounded(prep(df), Seq("user_id"), "ts", "v",
        "5 seconds"))
      .where(col("user_id") =!= -1L)
    val exp = StreamingOver.unbounded(prep(batchInput), Seq("user_id"), "ts",
      "v", "")
      .where(col("user_id") =!= -1L)
      .select(out.columns.map(col): _*)
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("StreamingOver.unboundedMulti (sum/cnt/min/max) matches batch") {
    def prep(d: DataFrame): DataFrame =
      d.withColumn("v", floor(col("value") * 1e6).cast("long"))
    val out = runStream("s_over_ubm", df =>
      StreamingOver.unboundedMulti(prep(df), Seq("user_id"), "ts", "v",
        "5 seconds"))
      .where(col("user_id") =!= -1L)
    val exp = StreamingOver.unboundedMulti(prep(batchInput), Seq("user_id"),
      "ts", "v", "")
      .where(col("user_id") =!= -1L)
      .select(out.columns.map(col): _*)
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("LateralSnapshotJoin: LOAD buffers probes, flip drains in order, JOIN phase live") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // build = rates changelog (cur, rts, rate, kind); probe = orders (oid, cur)
    val bIn = MemoryStream[(Timestamp, String, Double, String)]
    val pIn = MemoryStream[(Long, String)]
    val bDf = bIn.toDF().toDF("rts", "cur", "rate", "__rowkind")
    val pDf = pIn.toDF().toDF("oid", "cur")
    def ts(s: Long) = new Timestamp(s * 1000)
    val flipMs = 10000L // load completes at t=10s

    val ckpt = java.nio.file.Files.createTempDirectory("graft-lsj-").toString
    val q = graft.streaming.LateralSnapshotJoin(
      pDf, bDf, "cur", "rts", flipMs, "2 seconds", joinType = "left")
      .writeStream.format("memory").queryName("s_lsj")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // LOAD phase: build bootstrap + probes arrive — NOTHING may emit
      // (never join against a partially loaded table)
      bIn.addData(Seq((ts(1), "EUR", 1.1, "+I"), (ts(2), "USD", 2.0, "+I")))
      pIn.addData(Seq((1L, "EUR"), (2L, "USD"), (3L, "GBP")))
      q.processAllAvailable()
      // the -U carries the old row's CONTENT at the UPDATE's row-time
      // (removal matches by non-time fields; the pair shares the
      // update time, as the reference's changelog emits it)
      bIn.addData(Seq((ts(5), "EUR", 1.1, "-U"), (ts(5), "EUR", 1.2, "+U")))
      q.processAllAvailable()
      assert(spark.table("s_lsj").count() == 0,
        "probes must stay buffered during LOAD")
      // flip: build watermark (delay 2s) passes 10s → buffered probes
      // drain in insertion order against the loaded table
      bIn.addData(Seq((ts(13), "USD", 2.5, "+I")))
      q.processAllAvailable()
      bIn.addData(Seq((ts(14), "__wm", 0.0, "+I"))) // nudge a timer batch
      q.processAllAvailable()
      q.processAllAvailable()
      val drained = spark.table("s_lsj")
      assert(drained.where(col("oid") === 1L).select(col("snap_rate"))
        .collect().map(_.getDouble(0)).toSeq == Seq(1.2),
        "EUR probe must see the -U/+U updated rate, applied in row-time order")
      assert(drained.where(col("oid") === 2L).select(col("snap_rate"))
        .collect().map(_.getDouble(0)).toSeq == Seq(2.0),
        "USD probe joins the loaded rate (the 13s change is beyond the watermark)")
      assert(drained.where(col("oid") === 3L).select(col("snap_rate"))
        .collect().map(r => Option(r.get(0))).toSeq == Seq(None),
        "LEFT keeps the unmatched probe null-padded")
      // JOIN phase: a late probe joins immediately; the 13s build change
      // is applied once the watermark passes it
      bIn.addData(Seq((ts(20), "__wm", 0.0, "+I")))
      q.processAllAvailable()
      pIn.addData(Seq((4L, "USD")))
      q.processAllAvailable()
      val live = spark.table("s_lsj").where(col("oid") === 4L)
      assert(live.select(col("snap_rate")).collect()
        .map(_.getDouble(0)).toSet == Set(2.0, 2.5),
        "JOIN-phase probe sees the full multiset incl. the applied 13s insert")
      // an update pair beyond the watermark stays pending: the old
      // version must remain visible until the watermark passes the
      // UPDATE time (no vanish window between versions)
      bIn.addData(Seq((ts(25), "USD", 2.0, "-U"), (ts(25), "USD", 9.9, "+U")))
      q.processAllAvailable()
      pIn.addData(Seq((5L, "USD")))
      q.processAllAvailable()
      assert(spark.table("s_lsj").where(col("oid") === 5L)
        .select(col("snap_rate")).collect().map(_.getDouble(0)).toSet
        == Set(2.0, 2.5), "pending update must not hide the old version")
      bIn.addData(Seq((ts(40), "__wm", 0.0, "+I")))
      q.processAllAvailable()
      pIn.addData(Seq((6L, "USD")))
      q.processAllAvailable()
      assert(spark.table("s_lsj").where(col("oid") === 6L)
        .select(col("snap_rate")).collect().map(_.getDouble(0)).toSet
        == Set(9.9, 2.5), "applied -U/+U pair swaps the version atomically")
    } finally q.stop()
  }

  test("StreamingTemporalJoin matches batch AsOfJoin") {
    // probe = click events; build (versioned) = purchase events per user
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Timestamp, Long, String, Double)]
    val rIn = MemoryStream[(Timestamp, Long, String, Double)]
    val lDf = lIn.toDF().toDF("ts", "user_id", "event_type", "value")
    val rDf = rIn.toDF().toDF("rts", "user_id", "retype", "rvalue")

    val ckpt = java.nio.file.Files.createTempDirectory("graft-tj-").toString
    val q = StreamingTemporalJoin(lDf, rDf, "user_id", "ts", "rts",
      Seq("rts", "rvalue"), "5 seconds")
      .writeStream.format("memory").queryName("s_tjoin")
      .outputMode("append").option("checkpointLocation", ckpt).start()

    val probes = fixture.filter(_._3 == "click")
    val builds = fixture.filter(_._3 == "purchase")
      .map(t => (t._1, t._2, t._3, t._4))
    try {
      lIn.addData(probes)
      rIn.addData(builds)
      q.processAllAvailable()
      lIn.addData(Seq((flushTs, -1L, "flush", 0.0)))
      rIn.addData(Seq((flushTs, -1L, "flush", 0.0)))
      q.processAllAvailable()
      val t2 = new Timestamp(flushTs.getTime + 1000)
      lIn.addData(Seq((t2, -1L, "flush", 0.0)))
      rIn.addData(Seq((t2, -1L, "flush", 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("s_tjoin").where(col("user_id") =!= -1L)
    val lB = probes.toDF("ts", "user_id", "event_type", "value")
    val rB = builds.toDF("rts", "user_id", "retype", "rvalue")
    val exp = graft.operators.AsOfJoin(lB, rB, "user_id", "ts", "rts",
      Seq("rts", "rvalue"))
      .select(out.columns.map(col): _*)
    assert(sortedRows(out) == sortedRows(exp))
    assert(out.count() > 0)
  }

  test("native stream-stream interval join matches the batch join") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Timestamp, Long, Double)]
    val rIn = MemoryStream[(Timestamp, Long, Double)]
    val lDf = lIn.toDF().toDF("ts", "uid", "value").withWatermark("ts", "5 seconds")
    val rDf = rIn.toDF().toDF("rts", "ruid", "rvalue").withWatermark("rts", "5 seconds")
    val joined = lDf.join(rDf,
      expr("uid = ruid AND rts BETWEEN ts - INTERVAL 1 HOUR AND ts"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssj-").toString
    val q = joined.writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val l = fixture.filter(_._3 == "click").map(t => (t._1, t._2, t._4))
    val r = fixture.filter(_._3 == "view").map(t => (t._1, t._2, t._4))
    try {
      lIn.addData(l); rIn.addData(r)
      q.processAllAvailable()
      lIn.addData(Seq((flushTs, -1L, 0.0))); rIn.addData(Seq((flushTs, -1L, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("ssj_t").where(col("uid") =!= -1L)
    val exp = l.toDF("ts", "uid", "value").join(r.toDF("rts", "ruid", "rvalue"),
      expr("uid = ruid AND rts BETWEEN ts - INTERVAL 1 HOUR AND ts"))
    assert(sortedRows(out) == sortedRows(exp.select(out.columns.map(col): _*)))
    assert(out.count() > 0)
  }

  test("stream-stream LEFT OUTER interval join emits unmatched after bound") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Timestamp, Long, Double)]
    val rIn = MemoryStream[(Timestamp, Long, Double)]
    val lDf = lIn.toDF().toDF("ts", "uid", "value")
      .withWatermark("ts", "5 seconds")
    val rDf = rIn.toDF().toDF("rts", "ruid", "rvalue")
      .withWatermark("rts", "5 seconds")
    val joined = lDf.join(rDf,
      expr("uid = ruid AND rts BETWEEN ts - INTERVAL 1 HOUR AND ts"),
      "left_outer")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lsj-").toString
    val q = joined.writeStream.format("memory").queryName("lsj_t")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val l = fixture.filter(_._3 == "click").map(t => (t._1, t._2, t._4))
    val r = fixture.filter(_._3 == "view").map(t => (t._1, t._2, t._4))
    try {
      lIn.addData(l); rIn.addData(r)
      q.processAllAvailable()
      // push the watermark far past every interval bound so unmatched
      // left rows are emitted with null right sides
      lIn.addData(Seq((flushTs, -1L, 0.0))); rIn.addData(Seq((flushTs, -1L, 0.0)))
      q.processAllAvailable()
      lIn.addData(Seq((new Timestamp(flushTs.getTime + 10000), -1L, 0.0)))
      rIn.addData(Seq((new Timestamp(flushTs.getTime + 10000), -1L, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("lsj_t").where(col("uid") =!= -1L)
    val exp = l.toDF("ts", "uid", "value").join(
      r.toDF("rts", "ruid", "rvalue"),
      expr("uid = ruid AND rts BETWEEN ts - INTERVAL 1 HOUR AND ts"),
      "left_outer")
    assert(sortedRows(out) == sortedRows(exp.select(out.columns.map(col): _*)))
    assert(out.where(col("ruid").isNull).count() > 0,
      "no null-padded unmatched rows emitted")
  }

  test("StreamingSort emits per-key rows in event-time order") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sort-").toString
    val q = streaming.StreamingSort(df, Seq("user_id"), "ts", "20 seconds")
      .writeStream.format("memory").queryName("sort_t")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val base = 1700000000000L
    // single key, deliberately out of order, across two batches
    val rows = Seq(5L, 2L, 9L, 1L, 7L).map(i =>
      (new Timestamp(base + i * 1000), 42L, "x", i.toDouble))
    try {
      input.addData(rows.take(3)); q.processAllAvailable()
      input.addData(rows.drop(3)); q.processAllAvailable()
      input.addData(Seq((new Timestamp(base + 86400000L), -1L, "flush", 0.0)))
      q.processAllAvailable()
      input.addData(Seq((new Timestamp(base + 86401000L), -1L, "flush", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sort_t").where(col("user_id") === 42L)
      .select("value").collect().map(_.getDouble(0)).toSeq
    assert(got == got.sorted, s"not event-time ordered: $got")
    assert(got.toSet == Set(1.0, 2.0, 5.0, 7.0, 9.0))
  }

  test("cumulateBounded matches batch cumulate and evicts window state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.changelog.AggSpec
    val base = 1700000000000L
    def t(s: Long) = new Timestamp(base + s * 1000)
    // gaps between data slices exercise the empty-step emission; two
    // cumulate windows for key a, one for key b
    val data = Seq(
      (t(0), "a", 1.0), (t(5), "a", 2.0), (t(45), "a", 3.0), (t(70), "a", 4.0),
      (t(30), "b", 10.0))
    val specs = Seq(
      AggSpec("n", "value", "count"), AggSpec("sv", "value", "sum"))

    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "k", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cumb-").toString
    val q = StreamingWindows.cumulateBounded(
      df, "ts", 60000L, 20000L, "5 seconds", Seq("k"), specs)
      .writeStream.format("memory").queryName("cum_b")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val remaining =
      try {
        input.addData(data); q.processAllAvailable()
        // flush batches spaced a full slice apart: close the real slices,
        // close the flush slices themselves (advancing the re-asserted
        // slice-end watermark), then fire the phase-2 timers
        (1 to 4).foreach { i =>
          input.addData(Seq((new Timestamp(base + 86400000L + i * 60000), "z", 0.0)))
          q.processAllAvailable()
        }
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally q.stop()

    val streamed = spark.table("cum_b").where(col("k") =!= "z")
    val batch = StreamingWindows.cumulateBounded(
      data.toDF("ts", "k", "value"), "ts", 60000L, 20000L, "5 seconds",
      Seq("k"), specs)
    assert(sortedRows(streamed) == sortedRows(batch))
    assert(streamed.count() > 0)
    // every real cumulate window evicted; only trailing flush slices /
    // flush windows may remain open
    assert(remaining <= 4, s"state not cleaned: $remaining rows remain")
  }

  test("LateData routes allowedLateness-violating rows to the side output") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    WatermarkTracker.register(spark)
    val input = MemoryStream[(Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "k", "v")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-late-").toString
    val main = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val side = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    def drain(buf: scala.collection.mutable.ArrayBuffer[(Long, Double)])(
        b: org.apache.spark.sql.DataFrame): Unit =
      buf.synchronized {
        buf ++= b.select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      }
    val base = 1700000000000L
    val q = LateData.writeWithSideOutput(
      df, "ts", delayMs = 5000L, allowedLatenessMs = 10000L, ckpt)(
      drain(main), drain(side))
    try {
      // batch 1: no watermark yet -> everything on time
      input.addData((new Timestamp(base), 1L, 1.0),
        (new Timestamp(base + 120000), 2L, 2.0))
      q.processAllAvailable()
      // watermark is now base+115s; allowed cutoff = wm - 10s.
      // batch 2: a fresh row, a mildly-old row within lateness, and a
      // far-too-old row that must go to the side output
      input.addData(
        (new Timestamp(base + 121000), 3L, 3.0),
        (new Timestamp(base + 110000), 4L, 4.0),
        (new Timestamp(base + 30000), 5L, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(main.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    assert(side.map(_._1).toSet == Set(5L))

    // Restart with the same checkpoint: the persisted max-seen watermark
    // must survive, so an ancient replayed row is still classified late
    // (without persistence the tracker would reset and call it on-time).
    val q2 = LateData.writeWithSideOutput(
      df, "ts", delayMs = 5000L, allowedLatenessMs = 10000L, ckpt)(
      drain(main), drain(side))
    try {
      input.addData((new Timestamp(base + 40000), 6L, 6.0))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(side.map(_._1).toSet == Set(5L, 6L))
    assert(!main.map(_._1).contains(6L))
  }

  test("watermark idleness: multipleWatermarkPolicy=max lets an idle source's union progress") {
    // The reference handles an idle source via withIdleness (the idle
    // stream stops holding the watermark back). Spark's analog for a
    // multi-watermark query is spark.sql.streaming.multipleWatermarkPolicy:
    // with the default "min" an idle union leg stalls every window; with
    // "max" the active leg drives progress — asserted both ways here.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    def run(policy: String, name: String): Long = {
      spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
      try {
        val active = MemoryStream[(Timestamp, Long)]
        val idle = MemoryStream[(Timestamp, Long)]
        val union = active.toDF().toDF("ts", "v").withWatermark("ts", "1 second")
          .unionByName(
            idle.toDF().toDF("ts", "v").withWatermark("ts", "1 second"))
        val agg = union.groupBy(window(col("ts"), "10 seconds")).count()
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft-idle-$name-")
          .toString
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("append").option("checkpointLocation", ckpt).start()
        try {
          // only the active source ever produces data
          active.addData((new Timestamp(base), 1L))
          q.processAllAvailable()
          active.addData((new Timestamp(base + 60000), 2L))
          q.processAllAvailable()
          active.addData((new Timestamp(base + 120000), 3L))
          q.processAllAvailable()
        } finally q.stop()
        spark.table(name).count()
      } finally spark.conf
        .set("spark.sql.streaming.multipleWatermarkPolicy", "min")
    }
    assert(run("min", "wm_idle_min") == 0L,
      "min policy must stall on the idle leg")
    assert(run("max", "wm_idle_max") >= 1L,
      "max policy must let the active leg close windows")
  }

  test("StateQuery reads a checkpoint's keyed state as a DataFrame") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sq-").toString
    val base = 1700000000000L
    val q = input.toDF().toDF("ts", "k", "v").withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("k"))
      .agg(sum("v").as("sv"))
      .writeStream.format("memory").queryName("sq_t")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData((new Timestamp(base), 1L, 2.5),
        (new Timestamp(base + 1000), 2L, 3.5))
      q.processAllAvailable()
    } finally q.stop()
    val st = StateQuery(spark, ckpt)
      .selectExpr("key.k AS k", "value.sum AS sv")
      .as[(Long, Double)].collect().toSet
    assert(st == Set((1L, 2.5), (2L, 3.5)), s"state mismatch: $st")
  }

  test("StateBootstrap: batch-authored checkpoint warm-starts a streaming agg") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val dir = java.nio.file.Files.createTempDirectory("graft-boot-in-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-boot-ck-").toString
    // WRITE side of the state-processor surface: author batch-0 state from
    // a plain batch DataFrame (one row per key: key cols then buffer cols)
    val seed = Seq(("a", 5L), ("b", 3L)).toDF("k", "count")
    StateBootstrap.writeAggCheckpoint(seed, ckpt, Seq("k"),
      numShufflePartitions = 4)
    // files that arrive AFTER bootstrap — the only ones the stream reads
    Seq("a", "c", "c").toDF("k").write.mode("append").parquet(dir)
    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", StringType))))
      .parquet(dir)
      .groupBy("k").count()
      .writeStream.format("memory").queryName("boot_t")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val got = spark.table("boot_t").as[(String, Long)].collect().toMap
      assert(got == Map("a" -> 6L, "b" -> 3L, "c" -> 2L),
        s"first real batch must CONTINUE bootstrapped counts: $got")
      // state persists batch-over-batch on top of the bootstrap
      Seq("b").toDF("k").write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got2 = spark.table("boot_t").as[(String, Long)].collect().toMap
      assert(got2 == Map("a" -> 6L, "b" -> 4L, "c" -> 2L), s"batch 2: $got2")
    } finally q.stop()
    // round trip with the READ side: the running query's checkpoint is a
    // normal statestore checkpoint
    val back = StateQuery(spark, ckpt)
      .selectExpr("key.k AS k", "value.count AS c")
      .as[(String, Long)].collect().toMap
    assert(back == Map("a" -> 6L, "b" -> 4L, "c" -> 2L),
      s"StateQuery must read back the continued state: $back")
  }

  test("StateBootstrap: a checkpoint authored at 4 partitions restarts " +
      "at 4 under the sized start") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val dir = java.nio.file.Files.createTempDirectory("graft-boot4-in-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-boot4-ck-").toString
    val seed = Seq(("a", 5L), ("b", 3L), ("d", 1L)).toDF("k", "count")
    StateBootstrap.writeAggCheckpoint(seed, ckpt, Seq("k"),
      numShufflePartitions = 4)
    val arrived = Seq("a", "c", "c", "d")
    arrived.toDF("k").coalesce(1).write.mode("append").parquet(dir)
    val counts = spark.readStream
      .schema(StructType(Seq(StructField("k", StringType))))
      .parquet(dir).groupBy("k").count()
    // one small file: a fresh query over it would be sized to 1
    assume(sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").isEmpty)
    assert(GraftSession.streamPartitions(counts) == 1)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val q = GraftSession.withStreamPartitions(counts)(counts.writeStream
      .format("memory").queryName("boot4_t").outputMode("complete")
      .option("checkpointLocation", ckpt).start())
    try q.processAllAvailable() finally q.stop()
    assert(spark.conf.get(key) == before)
    val offsets = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckpt, "offsets", "1")))
    assert(offsets.contains(s""""$key":"4""""), offsets)
    // the oracle: a flat count over the seeded and the arrived rows
    val oracle = (seed.as[(String, Long)].collect().toSeq ++
      arrived.map(_ -> 1L)).groupMapReduce(_._1)(_._2)(_ + _)
    val got = spark.table("boot4_t").as[(String, Long)].collect().toMap
    assert(got == oracle, s"restarted at 4 partitions: $got")
  }

  test("withStreamPartitions: two threads starting at once each pin their " +
      "own count, and the session's count comes back") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    assume(sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").isEmpty)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def source(nFiles: Int): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft-sp-in-").toString
      Seq("a", "b", "c").grouped(3 / nFiles).foreach(ks =>
        ks.toDF("k").coalesce(1).write.mode("append").parquet(dir))
      spark.readStream.schema(StructType(Seq(StructField("k", StringType))))
        .parquet(dir).groupBy("k").count()
    }
    // an 8 MB open cost per file under an 8 MB split: one file a partition
    withConf("spark.sql.files.minPartitionNum" -> "1",
        "spark.sql.files.maxPartitionBytes" -> "8m",
        "spark.sql.files.openCostInBytes" -> "8m") {
      for (round <- 1 to 3) {
        val dfs = Seq(1 -> source(1), 3 -> source(3))
        val barrier = new java.util.concurrent.CyclicBarrier(dfs.size)
        val started = dfs.map { case (n, df) =>
          val ckpt = java.nio.file.Files.createTempDirectory("graft-sp-ck-")
          val f = new java.util.concurrent.FutureTask[StreamingQuery](() => {
            barrier.await()
            GraftSession.withStreamPartitions(df)(df.writeStream
              .format("memory").queryName(s"sp_${round}_$n")
              .outputMode("complete")
              .option("checkpointLocation", ckpt.toString).start())
          })
          new Thread(f).start()
          (n, ckpt, f)
        }
        started.foreach { case (n, ckpt, f) =>
          val q = f.get()
          try q.processAllAvailable() finally q.stop()
          val offsets = new String(java.nio.file.Files.readAllBytes(
            ckpt.resolve("offsets").resolve("0")))
          assert(offsets.contains(s""""$key":"$n""""), offsets)
          assert(spark.table(s"sp_${round}_$n").count() == 3)
        }
        assert(spark.conf.get(key) == before, s"round $round")
      }
    }
  }

  test("StateBootstrap: dedup checkpoint suppresses bootstrapped keys") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val dir = java.nio.file.Files.createTempDirectory("graft-bootd-in-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bootd-ck-").toString
    StateBootstrap.writeDedupCheckpoint(
      Seq("a", "b").toDF("k"), ckpt, Seq("k"), numShufflePartitions = 4)
    Seq("a", "c", "c", "b").toDF("k").write.mode("append").parquet(dir)
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-bootd-out-").toString
    // memory sink cannot recover a checkpoint in append mode — use the
    // real file sink, as a production dedup pipeline would (its sink log
    // needs the committed batch 0 authored too)
    StateBootstrap.prepareFileSink(outDir)
    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", StringType))))
      .parquet(dir)
      .dropDuplicates("k")
      .writeStream.format("parquet").option("path", outDir)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(outDir).as[String].collect().toSet
      assert(got == Set("c"),
        s"bootstrapped keys a,b must be suppressed, first c emits: $got")
    } finally q.stop()
  }

  private val bootgSeen =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  test("StateBootstrap: mapGroupsWithState checkpoint warm-starts custom state") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-bootg-in-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bootg-ck-").toString
    // user state = case class RunningCount(n: Long) → one BIGINT field
    StateBootstrap.writeGroupStateCheckpoint(
      Seq(("a", 5L), ("b", 3L)).toDF("k", "n"), ckpt, Seq("k"),
      numShufflePartitions = 4)
    Seq("a", "a", "c").toDF("k").write.mode("append").parquet(dir)
    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", StringType))))
      .parquet(dir)
      .as[(String)]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[String],
         st: org.apache.spark.sql.streaming.GroupState[RunningCount]) =>
          val n = st.getOption.map(_.n).getOrElse(0L) + rows.size
          st.update(RunningCount(n))
          (k, n)
      }
      .toDF("k", "n")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // foreachBatch recovers from checkpoints (memory sink cannot)
        batch.persist()
        batch.collect().foreach { r =>
          bootgSeen.put(r.getString(0), r.getLong(1)) }
        batch.unpersist()
        ()
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val got = bootgSeen.asScala.toMap
      assert(got == Map("a" -> 7L, "c" -> 1L),
        s"counts must continue from bootstrapped state: $got")
    } finally q.stop()
  }

  private def triggeredPrep(d: DataFrame): DataFrame =
    EventTime.withWatermark(d, "ts", "5 seconds")
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("v", floor(col("value") * 1e6).cast("long"))

  test("TriggeredWindows CountEvery: close fires match batch, state evicted") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-trig-").toString
    val q = TriggeredWindows.streaming(
      triggeredPrep(df), "event_type", "ts_us", "v", 600000000L,
      WindowTrigger.CountEvery(2), WindowEvictor.KeepAll, "sum")
      .writeStream.format("memory").queryName("s_trig")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val remaining =
      try {
        // two data batches exercise cross-batch window state
        val (h1, h2) = fixture.splitAt(fixture.size / 2)
        input.addData(h1); q.processAllAvailable()
        input.addData(h2); q.processAllAvailable()
        input.addData(Seq((flushTs, -1L, "flush", 0.0)))
        q.processAllAvailable()
        input.addData(Seq((new Timestamp(flushTs.getTime + 1000), -1L,
          "flush", 0.0)))
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally q.stop()
    val streamed = spark.table("s_trig").where(col("event_type") =!= "flush")
    // close fires are prefix-order-independent -> exact batch parity;
    // early fires are arrival-driven (asserted present, not compared)
    val exp = TriggeredWindows(
      triggeredPrep(batchInput), "event_type", "ts_us", "v", 600000000L,
      WindowTrigger.CountEvery(2), WindowEvictor.KeepAll, "sum",
      Seq(col("user_id")))
    assert(sortedRows(streamed.where(col("is_final")))
      == sortedRows(exp.where(col("is_final"))))
    assert(streamed.where(!col("is_final")).count() > 0,
      "count trigger produced no early fires")
    assert(remaining <= 1, s"state not cleaned: $remaining rows remain")
  }

  test("TriggeredWindows TimeLast evictor: close fires match batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-evict-").toString
    val q = TriggeredWindows.streaming(
      triggeredPrep(df), "event_type", "ts_us", "v", 600000000L,
      WindowTrigger.OnClose, WindowEvictor.TimeLast(120000000L), "min")
      .writeStream.format("memory").queryName("s_evict")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      val (h1, h2) = fixture.splitAt(fixture.size / 2)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      input.addData(Seq((flushTs, -1L, "flush", 0.0)))
      q.processAllAvailable()
      input.addData(Seq((new Timestamp(flushTs.getTime + 1000), -1L,
        "flush", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_evict").where(col("event_type") =!= "flush")
    // the TimeLast kept-set is arrival-order-independent -> exact parity
    val exp = TriggeredWindows(
      triggeredPrep(batchInput), "event_type", "ts_us", "v", 600000000L,
      WindowTrigger.OnClose, WindowEvictor.TimeLast(120000000L), "min",
      Seq(col("user_id")))
    assert(sortedRows(streamed) == sortedRows(exp))
    assert(streamed.count() > 0)
  }

  test("TriggeredWindows DeltaOver + DeltaLast: close fires match batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-delta-").toString
    // delta trigger (fires when the value moves > 100 units from the last
    // fire point) composed with the delta evictor (close keeps only values
    // near the window's last element)
    val q = TriggeredWindows.streaming(
      triggeredPrep(df), "event_type", "ts_us", "v", 600000000L,
      WindowTrigger.DeltaOver(100000000L),
      WindowEvictor.DeltaLast(100000000L), "sum")
      .writeStream.format("memory").queryName("s_delta")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      val (h1, h2) = fixture.splitAt(fixture.size / 2)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      input.addData(Seq((flushTs, -1L, "flush", 0.0)))
      q.processAllAvailable()
      input.addData(Seq((new Timestamp(flushTs.getTime + 1000), -1L,
        "flush", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_delta").where(col("event_type") =!= "flush")
    val exp = TriggeredWindows(
      triggeredPrep(batchInput), "event_type", "ts_us", "v", 600000000L,
      WindowTrigger.DeltaOver(100000000L),
      WindowEvictor.DeltaLast(100000000L), "sum",
      Seq(col("user_id")))
    // the DeltaLast kept-set and close totals are arrival-order-independent
    assert(sortedRows(streamed.where(col("is_final")))
      == sortedRows(exp.where(col("is_final"))))
    assert(streamed.where(col("is_final")).count() > 0)
  }

  test("DeltaJoin: streamed deltas accumulate to the full join, no duplicates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dj-").toString
    val lIn = MemoryStream[(Long, String)]
    val rIn = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-djc-").toString
    val q = graft.operators.DeltaJoin.stream(
      lIn.toDF().toDF("lk", "lv"),
      rIn.toDF().toDF("rk", "rv"),
      "lk", "rk", s"$base/l", s"$base/r",
      (out, _) => out.collect().foreach(r => acc.synchronized {
        acc += ((r.getLong(0), r.getString(1), r.getString(3)))
      }))
      .option("checkpointLocation", ckpt).start()
    val ls = Seq((1L, "a1"), (1L, "a2"), (2L, "b1"), (3L, "c1"))
    val rs = Seq((1L, "x1"), (2L, "y1"), (2L, "y2"), (4L, "z1"))
    try {
      // batch 1: half of each side; batch 2: the rest — cross-batch pairs
      // must come from the store probes
      lIn.addData(ls.take(2)); rIn.addData(rs.take(1))
      q.processAllAvailable()
      lIn.addData(ls.drop(2)); rIn.addData(rs.drop(1))
      q.processAllAvailable()
    } finally q.stop()
    val expected = (for ((lk, lv) <- ls; (rk, rv) <- rs if lk == rk)
      yield (lk, lv, rv)).sorted
    assert(acc.sorted.toSeq == expected, s"got ${acc.sorted}")
  }

  test("BroadcastRules: rules refresh per micro-batch, broadcast plan") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rulesDir = java.nio.file.Files.createTempDirectory("graft-rules-")
      .toString
    def writeRules(thr: Double): Unit =
      Seq(("a", thr)).toDF("k", "threshold")
        .write.mode("overwrite").parquet(rulesDir)
    writeRules(10.0)

    // batch face: the rule application is a broadcast hash join (the main
    // side never shuffles)
    val main = Seq(("a", 5.0)).toDF("k", "v")
    val plan = BroadcastRules(main, spark.read.parquet(rulesDir), Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), s"not broadcast:\n$plan")

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val input = MemoryStream[(String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-br-").toString
    val q = BroadcastRules.stream(
      input.toDF().toDF("k", "v"),
      s => s.read.parquet(rulesDir),
      Seq("k"),
      (joined, id) => {
        joined.collect().foreach(r => seen.synchronized {
          seen += ((id, r.getDouble(1) > r.getDouble(2)))
        })
      })
      .option("checkpointLocation", ckpt).start()
    try {
      input.addData(("a", 5.0)); q.processAllAvailable()
      writeRules(1.0) // the broadcast-state update
      input.addData(("a", 5.0)); q.processAllAvailable()
    } finally q.stop()
    // same row, different verdict per rules version
    assert(seen.map(_._2).toSeq == Seq(false, true), seen.toSeq)
  }

  test("sessionDynamic: streaming matches batch islands") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{expr => fexpr}
    val gap = fexpr("CASE WHEN kind = 'short' " +
      "THEN make_interval(0,0,0,0,0,0,30) ELSE make_interval(0,0,0,0,0,2,0) END")
    // key 1: 30 s gaps chain at 20 s spacing, break at the 40 s jump;
    // key 2: the 2-min gap bridges 0→60 but breaks at 60→300
    def ts(s: Long) = new Timestamp(s * 1000)
    val rows = Seq(
      (1L, ts(0), "short"), (1L, ts(20), "short"), (1L, ts(60), "short"),
      (2L, ts(0), "long"), (2L, ts(60), "long"), (2L, ts(300), "long"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      StreamingWindows.sessionDynamic(df, "ts", gap, "5 seconds",
        Seq(col("k")), Seq(count(lit(1)).as("n")))
        .select(col("k"), unix_micros(col("session_window.start")).as("st"),
          col("n"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sd-").toString
    val q = agg(input.toDF().toDF("k", "ts", "kind"))
      .writeStream.format("memory").queryName("sd_stream")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      input.addData(Seq((9L, ts(100000), "short"))) // advance watermark
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sd_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._1 != 9L).sortBy(x => (x._1, x._2)).toSeq
    val batch = agg(rows.toDF("k", "ts", "kind")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(streamed == batch)
    // islands: key 1 → {0,20} then {60} (30 s gap breaks at the 40 s
    // jump); key 2 → the 2-min gap bridges 0→60 but not 60→300
    assert(batch == Seq((1L, 0L, 2L), (1L, 60000000L, 1L),
      (2L, 0L, 2L), (2L, 300000000L, 1L)))
  }

  test("CountWindows: streaming matches batch, partial window silent") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 2 keys, 12 rows each fed in uneven micro-batches (5/4/3): windows of
    // 5 must fire twice per key and the trailing 2 rows stay silent.
    val rows = for (k <- Seq(1L, 2L); i <- 0L until 12L)
      yield (k, i * 1000L, (k * 100 + i).toDouble)
    val input = MemoryStream[(Long, Long, Double)]
    val df = input.toDF().toDF("user_id", "ts_us", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cw-").toString
    val q = CountWindows(df, Seq("user_id"), "ts_us", "value", size = 5)
      .writeStream.format("memory").queryName("cw_stream")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // per-key arrival order preserved across batches
      val byBatch = rows.groupBy(_._1).values.toSeq
        .map(ks => ks.sortBy(_._2))
      Seq(0 until 5, 5 until 9, 9 until 12).foreach { slice =>
        input.addData(byBatch.flatMap(ks => slice.map(ks)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("cw_stream")
      .select("user_id", "win_id", "n_rows", "sum_v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    val batch = CountWindows(
      rows.toDF("user_id", "ts_us", "value"),
      Seq("user_id"), "ts_us", "value", size = 5)
      .select("user_id", "win_id", "n_rows", "sum_v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    assert(streamed == batch)
    assert(batch.map(x => (x._1, x._2)) ==
      Seq((1L, 0L), (1L, 1L), (2L, 0L), (2L, 1L)))
  }

  test("CountWindows.sliding: streaming matches batch across batch splits") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 10 rows, size 4 slide 2 → windows at totals 4,6,8,10 (ids 2,3,4,5)
    val rows = (0L until 10L).map(i => (1L, i * 1000L, i.toDouble))
    val input = MemoryStream[(Long, Long, Double)]
    val df = input.toDF().toDF("user_id", "ts_us", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cws-").toString
    val q = CountWindows.sliding(df, Seq("user_id"), "ts_us", "value",
        size = 4, slide = 2)
      .writeStream.format("memory").queryName("cws_stream")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      Seq(rows.take(3), rows.slice(3, 7), rows.drop(7)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def norm(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._2).toSeq
    val streamed = norm(spark.table("cws_stream")
      .select("user_id", "win_id", "n_rows", "sum_v").collect())
    val batch = norm(CountWindows.sliding(
      rows.toDF("user_id", "ts_us", "value"),
      Seq("user_id"), "ts_us", "value", size = 4, slide = 2)
      .select("user_id", "win_id", "n_rows", "sum_v").collect())
    assert(streamed == batch)
    // window 2 covers rows 1..4 (values 0+1+2+3), window 5 rows 7..10
    assert(batch == Seq(
      (1L, 2L, 4L, 6.0), (1L, 3L, 4L, 14.0),
      (1L, 4L, 4L, 22.0), (1L, 5L, 4L, 30.0)))
  }

  test("WatermarkAlign: fast source held to maxDrift past the group minimum") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two "sources" in one alignment group — Spark's multi-source
    // watermark is the MIN across them (the alignment-group minimum)
    val fast = MemoryStream[(Long, Long)] // (src, epochSec)
    val slow = MemoryStream[(Long, Long)]
    def shaped(s: MemoryStream[(Long, Long)]): DataFrame =
      s.toDF().toDF("src", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withWatermark("ts", "0 seconds")
    val aligned = WatermarkAlign(
      shaped(fast).unionByName(shaped(slow)), "src", "ts",
      maxDriftMs = 5000L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-wal-").toString
    val q = aligned.writeStream.format("memory").queryName("wal")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def seen(): Set[Long] =
      spark.table("wal").select("sec").as[Long].collect().toSet
    try {
      // fast source runs to t=100s while slow sits at t=10s; watermark
      // after this batch = min(100, 10) = 10s (the group minimum)
      fast.addData((1L, 100L)); slow.addData((2L, 10L))
      q.processAllAvailable()
      // next batch runs at wm 10s: horizon 15s releases the 10s row,
      // the fast rows (100s, 101s) stay HELD — drift bounded at 5s
      fast.addData((1L, 101L)); q.processAllAvailable()
      assert(seen() == Set(10L), s"fast rows must be held: ${seen()}")
      // slow catches up to 96s -> wm 96s after this batch
      slow.addData((2L, 96L)); q.processAllAvailable()
      // horizon 101s: timers release 96s, 100s, 101s; 97s passes through
      slow.addData((2L, 97L)); q.processAllAvailable()
      assert(seen() == Set(10L, 96L, 97L, 100L, 101L),
        s"release after catch-up: ${seen()}")
    } finally q.stop()

    // batch face: pass-through (watermark at +infinity)
    val b = Seq((1L, 100L), (2L, 10L)).toDF("src", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = WatermarkAlign(b, "src", "ts", 5000L)
      .select("sec").as[Long].collect().toSet
    assert(got == Set(100L, 10L), s"batch face must pass through: $got")
  }

  test("StateServer: live RPC lookups track the changelog") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.changelog.RowKind
    def get(url: String): (Int, String) = {
      val conn = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = scala.io.Source.fromInputStream(is).mkString
      conn.disconnect()
      (code, body)
    }
    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssrv-").toString
    val port = 18652
    val q = StateServer.serve(df, "acct", Seq("k"), port, ckpt)
    try {
      input.addData(Seq(
        (7L, 10.0, 1L, RowKind.Insert),
        (8L, 20.0, 2L, RowKind.Insert)))
      q.processAllAvailable()
      val (c1, b1) = get(s"http://localhost:$port/state/acct?key=7")
      assert(c1 == 200 && b1.contains("\"v\":10.0"), s"$c1 $b1")
      // update replaces, delete removes
      input.addData(Seq(
        (7L, 11.5, 3L, RowKind.UpdateAfter),
        (8L, 20.0, 4L, RowKind.Delete)))
      q.processAllAvailable()
      val (c2, b2) = get(s"http://localhost:$port/state/acct?key=7")
      assert(c2 == 200 && b2.contains("\"v\":11.5"), s"$c2 $b2")
      val (c3, _) = get(s"http://localhost:$port/state/acct?key=8")
      assert(c3 == 404, s"deleted key must 404, got $c3")
      // registry summary + unknown state
      val (c4, b4) = get(s"http://localhost:$port/state/acct")
      assert(c4 == 200 && b4.contains("\"keys\":1"), s"$c4 $b4")
      assert(get(s"http://localhost:$port/state/nope")._1 == 404)
      // in-process client face
      assert(StateServer.lookup("acct", Seq("7"))
        .exists(_("v") == 11.5))
      assert(StateServer.lookup("acct", Seq("8")).isEmpty)
    } finally {
      q.stop()
      StateServer.stop()
    }
  }

  private def httpGet(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = scala.io.Source.fromInputStream(is).mkString
    conn.disconnect()
    (code, body)
  }

  test("StateServer: state past the old hot bound serves every key, " +
      "update and delete") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.changelog.RowKind
    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssbd-").toString
    val port = 18654
    val q = StateServer.serve(df, "big", Seq("k"), port, ckpt)
    try {
      input.addData((1L to 100L).map(i =>
        (i, i * 1.5, i, RowKind.Insert)))
      q.processAllAvailable()
      assert(StateServer.liveKeys("big") == 100L)
      // any key reads back with its exact typed value
      Seq(1L, 3L, 64L, 100L).foreach(i => assert(
        StateServer.lookup("big", Seq(i.toString)).exists(_("v") == i * 1.5),
        s"key $i"))
      assert(StateServer.lookup("big", Seq("101")).isEmpty)
      assert(StateServer.lookup("big", Seq("x")).isEmpty)
      // update serves the new value; delete 404s
      input.addData(Seq(
        (5L, 99.0, 200L, RowKind.UpdateAfter),
        (6L, 9.0, 201L, RowKind.Delete)))
      q.processAllAvailable()
      assert(StateServer.lookup("big", Seq("5")).exists(_("v") == 99.0))
      assert(StateServer.lookup("big", Seq("6")).isEmpty)
      assert(StateServer.lookup("big", Seq("3")).exists(_("v") == 4.5))
      assert(StateServer.liveKeys("big") == 99L)
    } finally {
      q.stop()
      StateServer.stop()
    }
  }

  test("StateServer: served state survives a restart from the checkpoint") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.changelog.RowKind
    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssrs-").toString
    val port = 18655
    input.addData((1L to 100L).map(i => (i, i * 1.5, i, RowKind.Insert)))
    val q1 = StateServer.serve(df, "kept", Seq("k"), port, ckpt)
    try q1.processAllAvailable() finally {
      q1.stop()
      StateServer.stop()
    }
    // the same checkpoint, no new input: the resumed query runs no batch
    val q2 = StateServer.serve(df, "kept", Seq("k"), port, ckpt)
    try {
      q2.processAllAvailable()
      (1L to 100L).foreach { i =>
        val (c, b) = httpGet(s"http://localhost:$port/state/kept?key=$i")
        assert(c == 200 && b.contains("\"v\":" + i * 1.5), s"$i: $c $b")
      }
      assert(StateServer.lookup("kept", Seq("7")).exists(_("v") == 10.5))
      assert(StateServer.liveKeys("kept") == 100L)
    } finally {
      q2.stop()
      StateServer.stop()
    }
  }

  test("StateServer: literal '+' in keys and port-mismatch hygiene (ADVICE r8)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.changelog.RowKind
    def get(url: String): (Int, String) = {
      val conn = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = scala.io.Source.fromInputStream(is).mkString
      conn.disconnect()
      (code, body)
    }
    val input = MemoryStream[(String, Double, Long, String)]
    val df = input.toDF().toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssrv2-").toString
    val port = 18653
    val q = StateServer.serve(df, "plus", Seq("k"), port, ckpt)
    try {
      input.addData(Seq(("a+b", 1.5, 1L, RowKind.Insert)))
      q.processAllAvailable()
      // percent-decode only: %2B must hit key "a+b"; a raw '+' must too
      // (it is a literal in a query string under percent-decoding, not a
      // form-encoded space)
      val (c1, b1) = get(s"http://localhost:$port/state/plus?key=a%2Bb")
      assert(c1 == 200 && b1.contains("\"v\":1.5"), s"$c1 $b1")
      val (c2, _) = get(s"http://localhost:$port/state/plus?key=a+b")
      assert(c2 == 200, s"raw '+' must stay a literal, got $c2")
      // a serve() on a mismatched port must throw AND leave no stale
      // registry entry behind
      intercept[IllegalArgumentException] {
        StateServer.serve(df, "stale", Seq("k"), port + 1, ckpt + "x")
      }
      assert(get(s"http://localhost:$port/state/stale")._1 == 404,
        "failed serve() must not register its state name")
    } finally {
      q.stop()
      StateServer.stop()
    }
  }

  test("stateful ops leave no residual state after windows close") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-state-").toString
    val q = StreamingDedupLast(df, Seq("user_id"), "ts", 600000L, "5 seconds")
      .writeStream.format("memory").queryName("s_state")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(fixture.take(500))
      q.processAllAvailable()
      input.addData(Seq((flushTs, -1L, "flush", 0.0)))
      q.processAllAvailable()
      input.addData(Seq((new Timestamp(flushTs.getTime + 1000), -1L,
        "flush", 0.0)))
      q.processAllAvailable()
      // only the two flush windows may remain open
      val remaining = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(remaining <= 2, s"state not cleaned: $remaining rows remain")
    } finally q.stop()
  }

  test("HybridSource: bounded history first, then the live tail") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hyb-").toString
    // bounded history: two files present BEFORE the stream starts
    Seq((1L, "h1"), (2L, "h2")).toDF("id", "v")
      .write.mode("append").parquet(dir)
    Seq((3L, "h3")).toDF("id", "v").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val src = graft.sources.HybridSource.fileBootstrap(spark, dir, schema)
    assert(src.isStreaming)
    val q = src.writeStream.format("memory").queryName("hyb_src")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-hybc-").toString)
      .start()
    try {
      q.processAllAvailable()
      val history = spark.table("hyb_src").as[(Long, String)].collect().toSet
      assert(history == Set((1L, "h1"), (2L, "h2"), (3L, "h3")))
      // the switch: a file arriving AFTER start streams in as the tail
      Seq((4L, "t1")).toDF("id", "v").write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("hyb_src").as[(Long, String)].collect().toSet ==
        history + ((4L, "t1")))
    } finally q.stop()

    // bounded composition keeps declaration order via _source_index
    val composed = graft.sources.HybridSource
      .builder(Seq((1L, "a")).toDF("id", "v"))
      .addSource(Seq((2L, "b")).toDF("id", "v"))
      .build()
    assert(composed.orderBy("_source_index").as[(Long, String, Int)]
      .collect().toList == List((1L, "a", 0), (2L, "b", 1)))
    val e = intercept[IllegalArgumentException](
      graft.sources.HybridSource.builder(src))
    assert(e.getMessage.contains("BOUNDED"))
  }
}
