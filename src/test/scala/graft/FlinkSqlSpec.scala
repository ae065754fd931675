package graft

import graft.operators.{AfterMatchSkip, CepNfa, Dedup, PatternStep, Windows}
import graft.sql.FlinkSql
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Flink-SQL-dialect text entry ([[graft.sql.FlinkSql]]): SQL text must
  * reproduce the DSL operators' answers exactly — the surface the DuckDB
  * oracles don't reach (timestamp descriptors, WITHIN, SKIP TO NEXT ROW,
  * alternation, quantifier forms, passthrough, parse errors).
  */
class FlinkSqlSpec extends SparkSpecBase {

  private val NS_MIN = 60L * 1000000000L

  private def events: DataFrame = Tables.events(spark, sf)

  private def deduped: DataFrame = {
    val e = events.select(col("user_id"), col("ts_us"), col("value"),
      col("event_id"))
    Dedup.keepFirst(e, Seq(col("user_id"), col("ts_us")), Seq(col("event_id")))
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.fieldNames.toSeq == b.schema.fieldNames.toSeq,
      s"schemas differ: ${a.schema.fieldNames.toSeq} vs ${b.schema.fieldNames.toSeq}")
    val av = a.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val bv = b.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(av.length == bv.length, s"${av.length} vs ${bv.length} rows")
    av.zip(bv).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("TUMBLE SQL text matches the DSL window assignment") {
    val viaSql = FlinkSql.sql(spark,
      """SELECT window_start, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts_ns), INTERVAL '10' MINUTE))
        |GROUP BY window_start""".stripMargin,
      Map("events" -> events))
    val viaDsl = Windows.withTumble(events, "ts_ns", 10 * NS_MIN)
      .groupBy(col("window_start")).agg(count(lit(1)).as("n"))
    assertSame(viaSql, viaDsl)
  }

  test("compiled statements drop their __graft_sql_ temp views") {
    def graftViews = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("__graft_sql_")).toSeq
    val tvfs = (1 to 6).map { m =>
      m -> FlinkSql.sql(spark,
        s"""SELECT window_start, COUNT(*) AS n
           |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts_ns), INTERVAL '$m' MINUTE))
           |GROUP BY window_start""".stripMargin,
        Map("events" -> events))
    }
    val legacy = FlinkSql.sql(spark,
      """SELECT TUMBLE_START(ts_ns, INTERVAL '7' MINUTE) AS window_start,
        |       COUNT(*) AS n
        |FROM events
        |GROUP BY TUMBLE(ts_ns, INTERVAL '7' MINUTE)""".stripMargin,
      Map("events" -> events))
    assert(graftViews.isEmpty, graftViews)
    // the views' plans live on in the DataFrames built over them
    (tvfs :+ (7 -> legacy)).foreach { case (m, df) =>
      assertSame(df, Windows.withTumble(events, "ts_ns", m * NS_MIN)
        .groupBy(col("window_start")).agg(count(lit(1)).as("n")))
    }
  }

  test("TUMBLE SQL text runs on a STREAMING table: stream/batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = events.select(col("ts_ns"), col("user_id"), col("value"))
      .as[(Long, Long, Double)].collect().toSeq
    val input = MemoryStream[(Long, Long, Double)]
    val sdf = input.toDF().toDF("ts_ns", "user_id", "value")
    val stmt =
      """SELECT window_start, window_end, COUNT(*) AS n, SUM(value) AS sv
        |FROM TABLE(TUMBLE(TABLE ev, DESCRIPTOR(ts_ns), INTERVAL '10' MINUTE))
        |GROUP BY window_start, window_end""".stripMargin
    // the SAME statement through the SAME entry, streaming substrate in
    val out = FlinkSql.sql(spark, stmt, Map("ev" -> sdf))
    assert(out.isStreaming, "SQL entry must keep a streaming input streaming")
    val q = out.writeStream.format("memory").queryName("sql_stream_tumble")
      .outputMode("complete").start()
    val got =
      try {
        val (h1, h2) = rows.splitAt(rows.size / 2)
        input.addData(h1); q.processAllAvailable()
        input.addData(h2); q.processAllAvailable()
        spark.table("sql_stream_tumble")
      } finally q.stop()
    val batch = FlinkSql.sql(spark, stmt,
      Map("ev" -> rows.toDF("ts_ns", "user_id", "value")))
    assertSame(got, batch)
  }

  test("TUMBLE offset shifts the window grid") {
    val viaSql = FlinkSql.sql(spark,
      """SELECT window_start, window_end, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts_ns),
        |                  INTERVAL '10' MINUTE, INTERVAL '3' MINUTE))
        |GROUP BY window_start, window_end""".stripMargin,
      Map("events" -> events))
    val off = 3 * NS_MIN
    val viaDsl = events
      .withColumn("window_start",
        Windows.tumbleStart(col("ts_ns") - off, 10 * NS_MIN) + off)
      .withColumn("window_end", col("window_start") + lit(10 * NS_MIN))
      .groupBy(col("window_start"), col("window_end"))
      .agg(count(lit(1)).as("n"))
    assertSame(viaSql, viaDsl)
  }

  test("TIMESTAMP descriptor yields timestamp window bounds") {
    val viaSql = FlinkSql.sql(spark,
      """SELECT window_start, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
        |GROUP BY window_start""".stripMargin,
      Map("events" -> events))
    assert(viaSql.schema("window_start").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val viaNative = events.groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
    assertSame(viaSql, viaNative)
  }

  test("legacy HOP group window matches the TVF form") {
    val legacy = FlinkSql.sql(spark,
      """SELECT HOP_START(ts_ns, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE) AS ws,
        |       HOP_END(ts_ns, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE) AS we,
        |       COUNT(*) AS n
        |FROM events
        |GROUP BY HOP(ts_ns, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE)""".stripMargin,
      Map("events" -> events))
    val tvf = FlinkSql.sql(spark,
      """SELECT window_start AS ws, window_end AS we, COUNT(*) AS n
        |FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts_ns),
        |               INTERVAL '5' MINUTE, INTERVAL '10' MINUTE))
        |GROUP BY window_start, window_end""".stripMargin,
      Map("events" -> events))
    assertSame(legacy, tvf)
    assert(legacy.count() > 0)
  }

  test("MATCH_RECOGNIZE WITHIN bounds match the DSL withinUs") {
    val viaSql = FlinkSql.sql(spark,
      """SELECT user_id, start_us, end_us, n_down, n_up
        |FROM d MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  PATTERN (down+ up+)
        |  WITHIN INTERVAL '12' HOUR
        |  DEFINE down AS value < PREV(value), up AS value > PREV(value))""".stripMargin,
      Map("d" -> deduped))
    val withinUs = 12L * 3600L * 1000000L
    val viaDsl = CepNfa(deduped, "user_id", "ts_us", "value", Seq(Seq(
      PatternStep("down", (p, c) => c < p, greedy = true),
      PatternStep("up", (p, c) => c > p, greedy = true))),
      withinUs = Some(withinUs))
    assertSame(viaSql, viaDsl)
    // the bound must bite: some matches exist and all are in budget
    val rows = viaSql.collect()
    assert(rows.nonEmpty, "WITHIN test needs at least one match")
    assert(rows.forall(r => r.getLong(2) - r.getLong(1) <= withinUs))
  }

  test("MATCH_RECOGNIZE SKIP TO NEXT ROW matches the DSL strategy") {
    val viaSql = FlinkSql.sql(spark,
      """SELECT user_id, start_us, end_us, n_down
        |FROM d MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (down{2,})
        |  DEFINE down AS value < PREV(value))""".stripMargin,
      Map("d" -> deduped))
    val viaDsl = CepNfa(deduped, "user_id", "ts_us", "value", Seq(Seq(
      PatternStep("down", (p, c) => c < p, greedy = true, minCount = 2))),
      skip = AfterMatchSkip.ToNextRow)
    assertSame(viaSql, viaDsl)
  }

  test("reluctant B*? matches as few rows as possible (docs example)") {
    import spark.implicits._
    // the reference's worked example (match_recognize.md:380-431):
    // prices 10,11,12,13,14,16; A>10, B<15, C>12. Greedy B* swallows
    // 12,13,14 → one match (16); reluctant B*? stops at the first
    // possible C → matches 13 and 16
    val ticker = Seq(10.0, 11.0, 12.0, 13.0, 14.0, 16.0).zipWithIndex
      .map { case (pr, i) => ("XYZ", (i + 2).toLong * 1000000L, pr) }
      .toDF("symbol", "ts_us", "price")
    def stmt(quant: String) =
      s"""SELECT symbol, lastPrice
         |FROM t MATCH_RECOGNIZE (
         |  PARTITION BY symbol ORDER BY ts_us
         |  MEASURES LAST(C.price) AS lastPrice
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (A B$quant C)
         |  DEFINE A AS A.price > 10, B AS B.price < 15,
         |         C AS C.price > 12)""".stripMargin
    def run(q: String) = FlinkSql.sql(spark, stmt(q), Map("t" -> ticker))
      .select("lastPrice").as[Double].collect().sorted.toSeq
    assert(run("*") == Seq(16.0))
    assert(run("*?") == Seq(13.0, 16.0))
    // B+? / B{1,3}?: the second match would need zero B rows (A=14
    // straight to C=16), which min 1 forbids — only the first survives
    assert(run("+?") == Seq(13.0))
    assert(run("{1,3}?") == Seq(13.0))
    // the reference's exclusions hold: reluctant-optional and
    // reluctant-last-variable are rejected with actionable messages
    val e1 = intercept[IllegalArgumentException](run("?" + "?"))
    assert(e1.getMessage.contains("reluctant-optional"))
    val e2 = intercept[IllegalArgumentException](run("{0,1}?"))
    assert(e2.getMessage.contains("not supported"))
    val e3 = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark,
        """SELECT symbol FROM t MATCH_RECOGNIZE (
          |  PARTITION BY symbol ORDER BY ts_us
          |  PATTERN (A B*?)
          |  DEFINE A AS A.price > 10, B AS B.price < 15)""".stripMargin,
        Map("t" -> ticker))
    }
    assert(e3.getMessage.contains("last pattern variable"))
    // ... including when the effectively-last variable sits inside a
    // trailing GROUP (review r11)
    val e3g = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark,
        """SELECT symbol FROM t MATCH_RECOGNIZE (
          |  PARTITION BY symbol ORDER BY ts_us
          |  PATTERN (A (B C*?))
          |  DEFINE A AS A.price > 10, B AS B.price < 15,
          |         C AS C.price > 12)""".stripMargin,
        Map("t" -> ticker))
    }
    assert(e3g.getMessage.contains("last pattern variable"))

    // `{,m}` ≡ `{0,m}` (match_recognize.md:365): up to two greedy B's
    assert(run("{,2}") == Seq(14.0))
    assert(run("{0,2}") == Seq(14.0))
    // exact zero and reluctant-optional ranges stay rejected
    val e4 = intercept[IllegalArgumentException](run("{0}"))
    assert(e4.getMessage.contains("n > 0"))
    val e5 = intercept[IllegalArgumentException](run("{,2}?"))
    assert(e5.getMessage.contains("reluctant-optional"))
  }

  test("SQL lookup join: AS OF proctime against a plain dim table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val stmt =
      """SELECT id, asof_name AS name
        |FROM probe AS p
        |JOIN dim FOR SYSTEM_TIME AS OF p.proc_time AS d
        |  ON p.fk = d.k""".stripMargin
    // batch: plain equi-join, dim broadcast-able
    val probe = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("id", "fk")
      .withColumn("proc_time", current_timestamp())
    val batch = FlinkSql.sql(spark, stmt,
      Map("probe" -> probe, "dim" -> dim))
    assert(batch.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((10L, "a"), (11L, "b")))
    assert(batch.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // streaming probe: stays streaming (the dim snapshot joins per batch)
    val input = MemoryStream[(Long, Long)]
    val sdf = input.toDF().toDF("id", "fk")
      .withColumn("proc_time", current_timestamp())
    val out = FlinkSql.sql(spark, stmt, Map("probe" -> sdf, "dim" -> dim))
    assert(out.isStreaming)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lkj-").toString
    val q = out.writeStream.format("memory").queryName("sql_lookup")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(Seq((20L, 1L), (21L, 9L))); q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("sql_lookup").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((20L, "a")))
    // LEFT JOIN keeps unmatched probe rows null-padded
    val leftOut = FlinkSql.sql(spark,
      """SELECT id, asof_name AS name
        |FROM probe AS p
        |LEFT JOIN dim FOR SYSTEM_TIME AS OF p.proc_time AS d
        |  ON p.fk = d.k""".stripMargin,
      Map("probe" -> probe, "dim" -> dim))
    assert(leftOut.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet ==
      Set((10L, Some("a")), (11L, Some("b")), (12L, None)))
  }

  test("AFTER MATCH strategies replay the reference docs' worked example") {
    import spark.implicits._
    // match_recognize.md:915-1013: prices 7,9,10,5,10,7,14, pattern
    // (A+ C), DEFINE A AS SUM(A.price) < 30 — the docs print expected
    // outputs per strategy. A leading sentinel row (price 1000, never
    // an A) stands in for the reference's first-row anchor, since this
    // engine replays (prev, cur) pairs.
    val t = Seq(1000.0, 7.0, 9.0, 10.0, 5.0, 10.0, 7.0, 14.0).zipWithIndex
      .map { case (pr, i) => ("XYZ", i.toLong * 1000000L, pr) }
      .toDF("symbol", "ts_us", "price")
    def stmt(strategy: String) =
      s"""SELECT sumPrice, startT, end_us
         |FROM t MATCH_RECOGNIZE (
         |  PARTITION BY symbol ORDER BY ts_us
         |  MEASURES SUM(a.price) AS sumPrice, FIRST(a.ts_us) AS startT
         |  ONE ROW PER MATCH
         |  AFTER MATCH $strategy
         |  PATTERN (a+ c)
         |  DEFINE a AS SUM(a.price) < 30)""".stripMargin
    def run(s: String) = FlinkSql.sql(spark, stmt(s), Map("t" -> t))
      .collect().map(r =>
        (r.getDouble(0), (r.getDouble(1) / 1000000L).toInt,
          (r.getLong(2) / 1000000L).toInt)).toSet
    // SKIP PAST LAST ROW: rows #1-#4 then #5-#7, exactly as printed
    assert(run("SKIP PAST LAST ROW") == Set((26.0, 1, 4), (17.0, 5, 7)))
    // SKIP TO LAST A / SKIP TO NEXT ROW: the docs' rows all emit; this
    // engine follows the SQL standard's backtracking preferment, so it
    // ALSO finds the rows #6-#7 match (A={7}, C=14) that the
    // reference's non-backtracking greedy NFA leaves unmatched (its A
    // swallows 14 and never backs off) — documented superset
    val docsToLast = Set((26.0, 1, 4), (25.0, 3, 6), (17.0, 5, 7))
    val gotToLast = run("SKIP TO LAST A")
    assert(docsToLast.subsetOf(gotToLast))
    assert((gotToLast -- docsToLast) == Set((7.0, 6, 7)))
    val docsToNext = Set((26.0, 1, 4), (24.0, 2, 5), (25.0, 3, 6),
      (22.0, 4, 7), (17.0, 5, 7))
    val gotToNext = run("SKIP TO NEXT ROW")
    assert(docsToNext.subsetOf(gotToNext))
    assert((gotToNext -- docsToNext) == Set((7.0, 6, 7)))
    // SKIP TO FIRST A: the own-start infinite loop is prohibited
    val e = intercept[Exception](run("SKIP TO FIRST A"))
    assert(e.getMessage.contains("own first row") ||
      e.getCause != null)
  }

  test("logical offsets: FIRST/LAST(A.x, n) in DEFINE and MEASURES") {
    import spark.implicits._
    // leading 0.0: the NFA replays (prev, cur) pairs, so the first
    // row of a partition cannot anchor
    def t(last: Double) = Seq(0.0, 100.0, 10.0, 50.0, 20.0, last)
      .zipWithIndex
      .map { case (pr, i) => ("S", (i + 1).toLong * 1000000L, pr) }
      .toDF("symbol", "ts_us", "price")
    def stmt = """SELECT n_b, second_last, second, far
      |FROM t MATCH_RECOGNIZE (
      |  PARTITION BY symbol ORDER BY ts_us
      |  MEASURES LAST(b.price, 1) AS second_last,
      |           FIRST(b.price, 1) AS second,
      |           LAST(b.price, 5) AS far
      |  ONE ROW PER MATCH
      |  PATTERN (a b{3} c)
      |  DEFINE a AS a.price >= 100, b AS b.price < 100,
      |         c AS c.price > LAST(b.price, 1))""".stripMargin
    // b rows are 10, 50, 20 -> LAST(b,1) = 50: c must exceed 50
    val hit = FlinkSql.sql(spark, stmt, Map("t" -> t(60.0))).collect()
    assert(hit.length == 1)
    val r = hit.head
    assert(r.getLong(0) == 3L) // n_b
    assert(r.getDouble(1) == 50.0) // LAST(b, 1): one back from 20
    assert(r.getDouble(2) == 50.0) // FIRST(b, 1): second from the start
    assert(r.isNullAt(3)) // LAST(b, 5): beyond the matched rows
    assert(FlinkSql.sql(spark, stmt, Map("t" -> t(30.0))).isEmpty)
    // offsets reject on non-FIRST/LAST aggregates
    val e = intercept[IllegalArgumentException](FlinkSql.sql(spark,
      """SELECT n_a FROM t MATCH_RECOGNIZE (
        |  PARTITION BY symbol ORDER BY ts_us
        |  MEASURES SUM(a.price, 1) AS s
        |  PATTERN (a) DEFINE a AS a.price > 0)""".stripMargin,
      Map("t" -> t(0.0))))
    assert(e.getMessage.contains("FIRST/LAST"))
  }

  test("MATCH_ROWTIME / MATCH_PROCTIME time-attribute measures") {
    import spark.implicits._
    val t = Seq(10.0, 15.0, 11.0, 16.0).zipWithIndex
      .map { case (pr, i) => ("S", (i + 1).toLong * 1000000L, pr) }
      .toDF("symbol", "ts_us", "price")
    val out = FlinkSql.sql(spark,
      """SELECT end_us, mrt, mrt_raw, pt
        |FROM t MATCH_RECOGNIZE (
        |  PARTITION BY symbol ORDER BY ts_us
        |  MEASURES MATCH_ROWTIME() AS mrt,
        |           MATCH_ROWTIME(ts_us) AS mrt_raw,
        |           MATCH_PROCTIME() AS pt
        |  ONE ROW PER MATCH
        |  PATTERN (a b)
        |  DEFINE a AS a.price >= 15, b AS b.price < 12)""".stripMargin,
      Map("t" -> t)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val endUs = r.getLong(0)
      // no-operand form: TIMESTAMP of the last mapped row
      assert(r.getTimestamp(1).getTime == endUs / 1000L)
      // operand form: the operand's type (exact-micros long)
      assert(r.getLong(2) == endUs)
      // proctime: a recent processing-time stamp
      assert(math.abs(r.getTimestamp(3).getTime -
        System.currentTimeMillis()) < 600000L)
    }
    // an operand that is NOT the ORDER BY rowtime column is rejected
    // (ADVICE r11: it used to parse-and-discard, silently yielding
    // end_us for any name)
    val bad = intercept[IllegalArgumentException](FlinkSql.sql(spark,
      """SELECT mrt FROM t MATCH_RECOGNIZE (
        |  PARTITION BY symbol ORDER BY ts_us
        |  MEASURES MATCH_ROWTIME(price) AS mrt
        |  PATTERN (a) DEFINE a AS a.price > 0)""".stripMargin,
      Map("t" -> t)))
    assert(bad.getMessage.contains("ORDER BY rowtime"))
  }

  test("lookup join wins when the dim coincidentally has a proctime " +
      "column name") {
    import spark.implicits._
    // ADVICE r10: a dim carrying a column named like the probe's
    // proctime attribute must NOT flip the plan to the event-time
    // versioned join — AS OF <proctime-named col> is always lookup
    val dim = Seq((1L, "a", 100L), (2L, "b", 200L))
      .toDF("k", "name", "proc_time")
    val probe = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("id", "fk")
      .withColumn("proc_time", current_timestamp())
    val out = FlinkSql.sql(spark,
      """SELECT id, asof_name AS name
        |FROM probe AS p
        |JOIN dim FOR SYSTEM_TIME AS OF p.proc_time AS d
        |  ON p.fk = d.k""".stripMargin,
      Map("probe" -> probe, "dim" -> dim))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((10L, "a"), (11L, "b")))
  }

  test("MEASURES and DEFINE may read the ORDER BY column") {
    // the same pattern phrased over ts_us (the ORDER BY column — routed
    // through the synthetic time value column) and over tsd (an
    // explicit double copy) must agree exactly
    def stmt(tc: String) =
      s"""SELECT user_id, start_us, end_us, t_first, t_last
         |FROM d MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts_us
         |  MEASURES FIRST(down.$tc) AS t_first, LAST(up.$tc) AS t_last
         |  PATTERN (down+ up)
         |  DEFINE down AS value < PREV(value),
         |         up AS value > PREV(value)
         |               AND $tc - PREV($tc) <= 36000000000)""".stripMargin
    val viaTime = FlinkSql.sql(spark, stmt("ts_us"), Map("d" -> deduped))
    val viaCopy = FlinkSql.sql(spark, stmt("tsd"),
      Map("d" -> deduped.withColumn("tsd", col("ts_us").cast("double"))))
    assertSame(viaTime, viaCopy)
    val rows = viaTime.collect()
    assert(rows.nonEmpty)
    // t_last is the up row's time = the match end; the bound must bite
    // somewhere (fewer matches than the unconstrained pattern)
    assert(rows.forall(r => r.getDouble(4) == r.getLong(2).toDouble))
    val unconstrained = FlinkSql.sql(spark,
      """SELECT user_id, start_us FROM d MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  PATTERN (down+ up)
        |  DEFINE down AS value < PREV(value),
        |         up AS value > PREV(value))""".stripMargin,
      Map("d" -> deduped))
    assert(rows.length < unconstrained.count())
  }

  test("multi-column DEFINE compiles onto the iterative-condition face") {
    val d = deduped
      .withColumn("vf", floor(col("value")).cast("double"))
      .withColumn("sev", (col("event_id") % 4).cast("double"))
    val viaSql = FlinkSql.sql(spark,
      """SELECT user_id, start_us, end_us, n_a, n_b
        |FROM d MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a b)
        |  DEFINE a AS vf >= 40,
        |         b AS vf < PREV(vf) AND sev > PREV(sev) - 3)""".stripMargin,
      Map("d" -> d))
    // DSL equivalent: valCols sorted = (sev, vf); the two-column condition
    // is an explicit IterCond over the full value vectors
    val viaDsl = CepNfa.nestedMulti(d, "user_id", "ts_us", Seq("sev", "vf"),
      Seq(Seq(
        CepNfa.Atom(PatternStep("a", (_, c) => c >= 40, greedy = false), 1),
        CepNfa.Atom(PatternStep("b", (_, _) => true, greedy = false), 1,
          Some((p, v, _) => v(1) < p(1) && v(0) > p(0) - 3)))),
      skip = AfterMatchSkip.ToNextRow)
      .select("user_id", "start_us", "end_us", "n_a", "n_b")
    assertSame(viaSql, viaDsl)
    assert(viaSql.count() > 0)
  }

  test("PATTERN alternation splits branches like the DSL branch set") {
    val viaSql = FlinkSql.sql(spark,
      """SELECT user_id, start_us, end_us, n_down, n_flat, n_up
        |FROM d MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  PATTERN (down flat | up flat)
        |  DEFINE down AS value < PREV(value), up AS value > PREV(value),
        |         flat AS value = PREV(value))""".stripMargin,
      Map("d" -> deduped))
    val down = PatternStep("down", (p, c) => c < p, greedy = false)
    val up = PatternStep("up", (p, c) => c > p, greedy = false)
    val flat = PatternStep("flat", (p, c) => c == p, greedy = false)
    val viaDsl = CepNfa(deduped, "user_id", "ts_us", "value",
      Seq(Seq(down, flat), Seq(up, flat)))
    assertSame(viaSql, viaDsl)
  }

  test("nested group PATTERN from SQL matches the DSL nested engine") {
    import spark.implicits._
    // pairs D,U,E,D,U,E — two outer iterations of ((down up)+ flat)
    val rows = Seq(5.0, 3.0, 6.0, 6.0, 2.0, 9.0, 9.0).zipWithIndex
      .map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("user_id", "ts_us", "vb")
    val viaSql = FlinkSql.sql(spark,
      """SELECT user_id, start_us, end_us, n_down, n_up, n_flat
        |FROM b MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  PATTERN (((down up)+ flat){2,})
        |  DEFINE down AS vb < PREV(vb), up AS vb > PREV(vb),
        |         flat AS vb = PREV(vb))""".stripMargin,
      Map("b" -> rows))
    val down = PatternStep("down", (p, c) => c < p, greedy = false)
    val up = PatternStep("up", (p, c) => c > p, greedy = false)
    val flat = PatternStep("flat", (p, c) => c == p, greedy = false)
    val viaDsl = CepNfa.nested(rows, "user_id", "ts_us", "vb",
      Seq(Seq(CepNfa.GroupElem(Seq(
        CepNfa.groupOf(Seq(down, up)),
        CepNfa.Atom(flat)), minIters = 2))))
    assertSame(viaSql, viaDsl)
    val got = viaSql.collect().map(_.toSeq).toSet
    assert(got == Set(Seq(1L, 1L, 7L, 2L, 2L, 2L)), s"got $got")
  }

  test("a TVF result chains into MATCH_RECOGNIZE in one statement") {
    val d = deduped.withColumn("ts_ns", expr("ts_us * 1000"))
    val viaSql = FlinkSql.sql(spark,
      """SELECT user_id, start_us, end_us, n_down
        |FROM TABLE(TUMBLE(TABLE d, DESCRIPTOR(ts_ns), INTERVAL '1' HOUR))
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  PATTERN (down{2,})
        |  DEFINE down AS value < PREV(value))""".stripMargin,
      Map("d" -> d))
    // tumble assignment adds columns without changing rows — the matches
    // are those of the raw input
    val viaDsl = CepNfa(deduped, "user_id", "ts_us", "value", Seq(Seq(
      PatternStep("down", (p, c) => c < p, greedy = true, minCount = 2))))
    assertSame(viaSql, viaDsl)
    assert(viaSql.count() > 0)
  }

  test("undefined pattern symbols default to always-true") {
    val viaSql = FlinkSql.sql(spark,
      """SELECT user_id, start_us, end_us, n_down, n_x
        |FROM d MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  PATTERN (down x)
        |  DEFINE down AS value < PREV(value))""".stripMargin,
      Map("d" -> deduped))
    val viaDsl = CepNfa(deduped, "user_id", "ts_us", "value", Seq(Seq(
      PatternStep("down", (p, c) => c < p, greedy = false),
      PatternStep("x", (_, _) => true, greedy = false))))
    assertSame(viaSql, viaDsl)
  }

  test("comments are skipped in translated statements") {
    val viaSql = FlinkSql.sql(spark,
      """-- tumbling count per window
        |SELECT window_start, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE events, /* time attribute */ DESCRIPTOR(ts_ns),
        |                  INTERVAL '10' MINUTE)) -- ten minutes
        |GROUP BY window_start""".stripMargin,
      Map("events" -> events))
    val viaDsl = Windows.withTumble(events, "ts_ns", 10 * NS_MIN)
      .groupBy(col("window_start")).agg(count(lit(1)).as("n"))
    assertSame(viaSql, viaDsl)
  }

  test("plain SQL with no Flink FROM item passes through to Spark SQL") {
    val df = FlinkSql.sql(spark,
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
      Map("events" -> events))
    assert(df.count() == events.select("event_type").distinct().count())
  }

  test("temporal-join alias references are case-insensitive") {
    // regression: `P.value` with alias `p` was left unrewritten (raw
    // token compared case-sensitively) and failed as unresolved
    val e = events
    val purchases = Dedup.keepFirst(
      e.where(col("event_type") === "purchase"),
      Seq(col("user_id"), col("ts_us")), Seq(col("event_id")))
    def q(t: String) = FlinkSql.sql(spark, t, Map(
      "clicks" -> e.where(col("event_type") === "click"),
      "purchases" -> purchases))
    val mixed = q(
      """SELECT c.event_id, P.value AS asof_value
        |FROM clicks AS c
        |JOIN purchases FOR SYSTEM_TIME AS OF C.ts_us AS p
        |  ON c.user_id = p.user_id
        |ORDER BY c.event_id""".stripMargin)
    val plain = q(
      """SELECT c.event_id, p.value AS asof_value
        |FROM clicks AS c
        |JOIN purchases FOR SYSTEM_TIME AS OF c.ts_us AS p
        |  ON c.user_id = p.user_id
        |ORDER BY c.event_id""".stripMargin)
    assertSame(mixed, plain)
    assert(plain.count() > 0)
  }

  test("temporal-join rewrite leaves subqueries reusing the alias alone") {
    val e = events
    val purchases = Dedup.keepFirst(
      e.where(col("event_type") === "purchase"),
      Seq(col("user_id"), col("ts_us")), Seq(col("event_id")))
    // the scalar subquery rebinds `p` over a different table; its `p.value`
    // must NOT be rewritten to asof_value
    val df = FlinkSql.sql(spark,
      """SELECT c.event_id, p.value AS asof_value,
        |  (SELECT MAX(p.value) FROM all_events AS p) AS global_max
        |FROM clicks AS c
        |JOIN purchases FOR SYSTEM_TIME AS OF c.ts_us AS p
        |  ON c.user_id = p.user_id""".stripMargin,
      Map(
        "clicks" -> e.where(col("event_type") === "click"),
        "purchases" -> purchases,
        "all_events" -> e))
    val expectedMax = e.agg(max(col("value"))).collect()(0).getDouble(0)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) == expectedMax))
  }

  test("DEFINE accepts unary minus over PREV and parenthesized terms") {
    // -PREV(value) > -value  ⇔  value > PREV(value)
    val viaSql = FlinkSql.sql(spark,
      """SELECT user_id, start_us, end_us, n_up
        |FROM d MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  PATTERN (up+)
        |  DEFINE up AS -PREV(value) > -(value))""".stripMargin,
      Map("d" -> deduped))
    val viaDsl = CepNfa(deduped, "user_id", "ts_us", "value", Seq(Seq(
      PatternStep("up", (p, c) => c > p, greedy = true))))
    assertSame(viaSql, viaDsl)
    assert(viaSql.count() > 0)
  }

  test("LATERAL TABLE correlate: inner, left-outer ON TRUE, multi-column") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "")).toDF("id", "txt")
    // inner: empty table-function result drops the row
    val inner = FlinkSql.sql(spark,
      """SELECT id, w FROM docs, LATERAL TABLE(split(txt, ' ')) AS t(w)
        |ORDER BY id, w""".stripMargin,
      Map("docs" -> docs))
    assert(inner.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (1L, "b"), (2L, "")))
    // left-outer ON TRUE: empty result keeps the row, null-padded
    val outer = FlinkSql.sql(spark,
      """SELECT id, w FROM docs
        |LEFT JOIN LATERAL TABLE(filter(split(txt, ' '), x -> x <> ''))
        |  AS t(w) ON TRUE
        |ORDER BY id, w""".stripMargin,
      Map("docs" -> docs))
    assert(outer.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (1L, "b"), (2L, null)))
    // several output columns → array-of-struct inline
    val multi = FlinkSql.sql(spark,
      """SELECT id, p, w
        |FROM docs, LATERAL TABLE(
        |  transform(filter(split(txt, ' '), x -> x <> ''),
        |            (x, i) -> struct(i, x))) AS t(p, w)
        |ORDER BY id, p""".stripMargin,
      Map("docs" -> docs))
    assert(multi.as[(Long, Int, String)].collect().toSeq ==
      Seq((1L, 0, "a"), (1L, 1, "b")))
    // the vector-search spelling is untouched by the generic rewrite
    assert(FlinkSql.rewriteLateralTables(
      "SELECT 1 FROM q, LATERAL TABLE(VECTOR_SEARCH(TABLE e, q.v, DESCRIPTOR(v), 5))")
      .contains("LATERAL TABLE(VECTOR_SEARCH"))
  }

  test("MATCH_RECOGNIZE with several PARTITION BY columns") {
    val clicks = events.where(col("event_type") === "click")
    def mr(partition: String, src: org.apache.spark.sql.DataFrame) =
      FlinkSql.sql(spark,
        s"""SELECT * FROM d MATCH_RECOGNIZE (
           |  PARTITION BY $partition
           |  ORDER BY ts_us
           |  MEASURES min(down.value) AS bottom
           |  PATTERN (down+ up+)
           |  DEFINE down AS down.value < PREV(down.value),
           |         up AS up.value > PREV(up.value)
           |)""".stripMargin,
        Map("d" -> src))
    // composite key over a single-event_type subset == single key on it,
    // modulo the extra (constant) key column
    val single = mr("user_id", Dedup.keepFirst(clicks,
      Seq(col("user_id"), col("ts_us")), Seq(col("event_id"))))
    val multi = mr("user_id, event_type", Dedup.keepFirst(clicks,
      Seq(col("user_id"), col("ts_us")), Seq(col("event_id"))))
    assert(multi.columns.take(2).toSeq == Seq("user_id", "event_type"))
    val a = single.orderBy(col("user_id"), col("start_us"))
      .collect().map(_.toSeq)
    val b = multi.drop("event_type").orderBy(col("user_id"), col("start_us"))
      .collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b),
      s"${a.length} vs ${b.length}: ${a.take(2).toSeq} vs ${b.take(2).toSeq}")
    assert(multi.select("event_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("click"))
  }

  test("MATCH_RECOGNIZE SQL on a STREAMING table: stream/batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stmt =
      """SELECT * FROM d MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts_us
        |  MEASURES min(down.value) AS bottom, last(up.value) AS top
        |  PATTERN (down+ up+)
        |  DEFINE down AS down.value < PREV(down.value),
        |         up AS up.value > PREV(up.value)
        |)""".stripMargin
    val rows = deduped.select(col("user_id"), col("ts_us"), col("value"))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(r => (r._2, r._1))
    val batch = FlinkSql.sql(spark, stmt,
      Map("d" -> rows.toDF("user_id", "ts_us", "value")))
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Long, Double)]
    val sdf = input.toDF().toDF("user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 second")
    val out = FlinkSql.sql(spark, stmt, Map("d" -> sdf))
    assert(out.isStreaming)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqlmr-").toString
    val q = out.writeStream.format("memory").queryName("sql_mr_stream")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val streamed =
      try {
        val (a, b) = rows.splitAt(rows.size / 2)
        input.addData(a); q.processAllAvailable()
        input.addData(b); q.processAllAvailable()
        spark.table("sql_mr_stream").collect().map(_.toSeq).toSet
      } finally q.stop()
    // streams have no end-of-input flush: open runs at stream end hold
    // their candidates, so the streamed set is the batch set minus
    // matches whose key's series ends mid-run — assert containment AND
    // that completed keys agree
    assert(batch.nonEmpty && streamed.subsetOf(batch),
      s"streamed ${streamed.size} must be ⊆ batch ${batch.size}")
    assert(streamed.nonEmpty, "some matches must complete in-stream")
  }

  test("temporal join SQL on STREAMING tables routes to the streaming face") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val lIn = MemoryStream[(Timestamp, Long, Double)]
    val rIn = MemoryStream[(Timestamp, Long, Double)]
    val stmt =
      """SELECT c.user_id, c.value, p.rvalue AS rv
        |FROM clicks AS c
        |JOIN purchases FOR SYSTEM_TIME AS OF c.ts AS p
        |  ON c.user_id = p.user_id""".stripMargin
    val out = FlinkSql.sql(spark, stmt, Map(
      "clicks" -> lIn.toDF().toDF("ts", "user_id", "value"),
      "purchases" -> rIn.toDF().toDF("ts", "user_id", "rvalue")))
    assert(out.isStreaming, "streaming inputs must stay streaming")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqltj-").toString
    val q = out.writeStream.format("memory").queryName("sql_tj_stream")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      lIn.addData(Seq((ts(10), 1L, 1.0), (ts(20), 1L, 2.0), (ts(15), 2L, 3.0)))
      rIn.addData(Seq((ts(5), 1L, 100.0), (ts(12), 1L, 200.0),
        (ts(1), 2L, 300.0)))
      q.processAllAvailable()
      // advance the watermark past every probe so held rows emit
      lIn.addData(Seq((ts(1000), -1L, 0.0)))
      rIn.addData(Seq((ts(1000), -1L, 0.0)))
      q.processAllAvailable()
      lIn.addData(Seq((ts(1001), -1L, 0.0)))
      rIn.addData(Seq((ts(1001), -1L, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sql_tj_stream")
      .where(col("user_id") =!= -1L)
      .select(col("user_id"), col("value"), col("rv"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == Set((1L, 1.0, 100.0), (1L, 2.0, 200.0), (2L, 3.0, 300.0)),
      s"$got")
  }

  test("MATCH_RECOGNIZE with DEFINE/MEASURES over several value columns") {
    import spark.implicits._
    // price falls twice then volume spikes; qty measured independently
    val rows = Seq(
      // k, t,  price, vol
      (1L, 1L, 10.0, 5.0),
      (1L, 2L, 8.0, 5.0),   // down (price 8 < 10)
      (1L, 3L, 6.0, 5.0),   // down (price 6 < 8)
      (1L, 4L, 6.5, 50.0),  // spike (vol 50 > 5)
      (1L, 5L, 7.0, 2.0),
      (2L, 1L, 9.0, 1.0),
      (2L, 2L, 9.5, 1.0)    // no match: price never falls
    ).toDF("k", "ts_us", "price", "vol")
    val out = FlinkSql.sql(spark,
      """SELECT * FROM d MATCH_RECOGNIZE (
        |  PARTITION BY k
        |  ORDER BY ts_us
        |  MEASURES min(down.price) AS bottom, max(spike.vol) AS peak
        |  PATTERN (down+ spike)
        |  DEFINE down AS down.price < PREV(down.price),
        |         spike AS spike.vol > PREV(spike.vol)
        |)""".stripMargin,
      Map("d" -> rows))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(3),
      r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    // one match for k=1: down×2 (prices 8, 6), spike×1 (vol 50)
    assert(got == Seq((1L, 2L, 1L, 6.0, 50.0)),
      s"cols=${out.columns.toSeq} got=$got")
  }

  test("doubled-quote escapes inside string literals tokenize") {
    val df = FlinkSql.sql(spark,
      "SELECT COUNT(*) AS n FROM events WHERE event_type <> 'it''s'",
      Map("events" -> events))
    assert(df.collect()(0).getLong(0) == events.count())
  }

  test("parse errors are reported with context") {
    def bad(sqlText: String, fragment: String): Unit = {
      val e = intercept[IllegalArgumentException](
        FlinkSql.sql(spark, sqlText, Map("d" -> deduped,
          "events" -> events)))
      assert(e.getMessage.contains(fragment), s"got: ${e.getMessage}")
    }
    bad("""SELECT 1 FROM TABLE(TUMBLE(TABLE nope, DESCRIPTOR(ts_ns),
          INTERVAL '10' MINUTE))""", "unknown table")
    // (SESSION without PARTITION BY is now the GLOBAL-session form, no
    // longer an error — covered in FlinkDdlSpec)
    bad("""SELECT 1 FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts_ns),
          INTERVAL '30' MINUTE))""", "HOP takes slide, size")
    // ({n,m} is now supported by expansion — an inverted range still errors)
    bad("""SELECT 1 FROM d MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            PATTERN (down{4,2})
            DEFINE down AS value < PREV(value))""", "bad quantifier")
    // (a DEFINE reading several columns is no longer an error — it
    // compiles onto the iterative-condition face; see the multi-column
    // DEFINE test)
    bad("""SELECT 1 FROM d MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            AFTER MATCH SKIP TO SOMEWHERE
            PATTERN (down)
            DEFINE down AS value < PREV(value))""",
      "AFTER MATCH SKIP TO expects")
  }

  test("LATERAL SNAPSHOT rewrite: literals untouched, multiples, identifiers") {
    import spark.implicits._
    val probe = Seq((1L, 10L), (2L, 20L)).toDF("oid", "ck")
    val dim = Seq((10L, "a"), (30L, "b")).toDF("dk", "v")
    // the bounded degradation joins through the ON condition
    val out = FlinkSql.sql(spark,
      """SELECT oid, v FROM probe p
        |LEFT JOIN LATERAL SNAPSHOT(TABLE dim,
        |    load_completed_condition => 'compile_time') AS d
        |  ON p.ck = d.dk
        |ORDER BY oid""".stripMargin,
      Map("probe" -> probe, "dim" -> dim)).collect()
    assert(out.map(r => (r.getLong(0), r.get(1))).toSeq ==
      Seq((1L, "a"), (2L, null)))
    // TWO snapshot joins in one statement both rewrite
    val two = FlinkSql.sql(spark,
      """SELECT oid, a.v AS v1, b.v AS v2 FROM probe p
        |LEFT JOIN LATERAL SNAPSHOT(TABLE dim) AS a ON p.ck = a.dk
        |LEFT JOIN LATERAL SNAPSHOT(TABLE dim) AS b ON p.ck = b.dk
        |ORDER BY oid""".stripMargin,
      Map("probe" -> probe, "dim" -> dim)).collect()
    assert(two.length == 2 && two.head.getString(1) == "a")
    // 'LATERAL SNAPSHOT(' inside a string literal must survive; a plain
    // column named snapshot must not trigger the rewrite
    val lit = FlinkSql.sql(spark,
      """SELECT oid, 'LATERAL SNAPSHOT(TABLE x)' AS snapshot
        |FROM probe ORDER BY oid""".stripMargin,
      Map("probe" -> probe)).collect()
    assert(lit.head.getString(1) == "LATERAL SNAPSHOT(TABLE x)")
  }

  test("FROM_CHANGELOG error handling and TO_CHANGELOG partial deletes") {
    import spark.implicits._
    val feed = Seq((1L, 10.0, "c"), (1L, 20.0, "x"), (2L, 5.0, "d"))
      .toDF("k", "v", "op")
    // unknown code + default FAIL → runtime error
    val failing = FlinkSql.sql(spark,
      "SELECT * FROM FROM_CHANGELOG(input => TABLE feed PARTITION BY k)",
      Map("feed" -> feed))
    val e = intercept[Exception](failing.collect())
    assert(e.getMessage.contains("unmapped op code") ||
      Option(e.getCause).exists(_.getMessage.contains("unmapped op code")))
    // SKIP drops the unmapped row; custom mapping applies
    val skipped = FlinkSql.sql(spark,
      """SELECT * FROM FROM_CHANGELOG(
        |  input => TABLE feed PARTITION BY k,
        |  op_mapping => MAP['c', 'INSERT', 'd', 'DELETE'],
        |  error_handling => 'SKIP')""".stripMargin,
      Map("feed" -> feed)).collect()
    assert(skipped.length == 2)
    assert(skipped.map(_.getAs[String]("__rowkind")).sorted.toSeq ==
      Seq("+I", "-D"))
    // TO_CHANGELOG with produces_full_deletes => false nulls non-key cols
    val cl = Seq((1L, 10.0, "+I", 1L), (2L, 5.0, "-D", 2L))
      .toDF("k", "v", "__rowkind", "__seq")
    val partial = FlinkSql.sql(spark,
      """SELECT op, k, v FROM TO_CHANGELOG(
        |  input => TABLE cl PARTITION BY k,
        |  produces_full_deletes => FALSE)
        |ORDER BY k""".stripMargin,
      Map("cl" -> cl)).collect()
    assert(partial.length == 2)
    assert(partial(0).getString(0) == "INSERT" && partial(0).getDouble(2) == 10.0)
    assert(partial(1).getString(0) == "DELETE" && partial(1).isNullAt(2),
      s"delete row must null non-key columns: ${partial(1)}")
  }

  test("PTF SQL spelling: named, positional, and DEFAULT argument forms") {
    graft.streaming.SqlPtfs.register(new graft.streaming.SqlPtf {
      override val name = "take_first"
      override def apply(input: DataFrame,
          call: graft.streaming.PtfCall): DataFrame = {
        val limit = call.arg("threshold", 0).map(_.toInt).getOrElse(1)
        val tag = call.arg("uid", 1).getOrElse("none")
        val oi = input.schema.fieldIndex("event_id")
        val out = input.schema
          .add("seq", org.apache.spark.sql.types.IntegerType, false)
          .add("tag", org.apache.spark.sql.types.StringType, false)
        graft.streaming.ProcessTableFunction[Unit](input,
          call.partitionBy, out, new graft.streaming.GraftPTF[Unit] {
            override def process(key: org.apache.spark.sql.Row,
                rows: Iterator[org.apache.spark.sql.Row],
                state: Option[Unit], watermarkMs: Long) =
              (None, rows.toIndexedSeq.sortBy(_.getLong(oi)).take(limit)
                .zipWithIndex.map { case (r, i) =>
                  org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(i + 1, tag))
                }, None)
          })
      }
    })
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id")).limit(500)
    val t = Map("ev" -> ev)
    val named = FlinkSql.sql(spark,
      """SELECT user_id, event_id, seq, tag
        |FROM take_first(input => TABLE ev PARTITION BY user_id,
        |                threshold => 2, uid => 'named-run')
        |ORDER BY user_id, event_id""".stripMargin, t).collect()
    assert(named.nonEmpty)
    assert(named.forall(r => r.getInt(2) <= 2 && r.getString(3) == "named-run"))
    val keys = named.map(_.getLong(0)).distinct.length
    assert(named.length <= keys * 2)
    // positional + DEFAULT: threshold positional, uid defaulted
    val pos = FlinkSql.sql(spark,
      """SELECT user_id, seq, tag
        |FROM take_first(TABLE ev PARTITION BY user_id, 1, DEFAULT)
        |ORDER BY user_id""".stripMargin, t).collect()
    assert(pos.length == keys)
    assert(pos.forall(r => r.getInt(1) == 1 && r.getString(2) == "none"))
  }

  test("streaming keep-first ROW_NUMBER is an append stream equal to the " +
      "batch keep-first") {
    import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, DeduplicateWithinWatermark}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stmt =
      """SELECT k, v, rn FROM (
        |  SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM s
        |) WHERE rn = 1""".stripMargin
    // arrival order is event order per key, where keep-first by arrival
    // and keep-first by ORDER BY t agree
    val h1 = Seq(("a", 10L, 1L), ("b", 20L, 2L), ("a", 11L, 3L))
    val h2 = Seq(("c", 30L, 4L), ("b", 21L, 5L), ("a", 12L, 6L))
    val input = MemoryStream[(String, Long, Long)]
    val out = FlinkSql.sql(spark, stmt,
      Map("s" -> input.toDF().toDF("k", "v", "t")))
    assert(out.isStreaming)
    assert(out.queryExecution.analyzed.collectFirst {
      case d: Deduplicate => d }.isDefined, out.queryExecution.analyzed)
    val q = out.writeStream.format("memory").queryName("sql_stream_keep_first")
      .outputMode("append").start()
    val got =
      try {
        input.addData(h1); q.processAllAvailable()
        input.addData(h2); q.processAllAvailable()
        spark.table("sql_stream_keep_first").collect().map(_.toSeq).toSet
      } finally q.stop()
    val batch = FlinkSql.sql(spark, stmt,
      Map("s" -> (h1 ++ h2).toDF("k", "v", "t")))
    assert(got == batch.collect().map(_.toSeq).toSet)
    assert(got == Set(Seq("a", 10L, 1), Seq("b", 20L, 1), Seq("c", 30L, 1)))
    // a watermarked source keeps only the watermark's span of keys
    val wm = MemoryStream[(String, Long, java.sql.Timestamp)].toDF()
      .toDF("k", "v", "t").withWatermark("t", "1 minute")
    assert(FlinkSql.sql(spark, stmt, Map("s" -> wm))
      .queryExecution.analyzed.collectFirst {
        case d: DeduplicateWithinWatermark => d }.isDefined)
  }

  test("batch ROW_NUMBER outside the dedup shape survives a mixed session") {
    // ADVICE r9: with a STREAMING table registered, a batch query whose
    // ROW_NUMBER is not the keep-first shape (no PARTITION BY) must run
    // as plain Spark SQL, untouched by the streaming dedup rule.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Double)].toDF().toDF("k", "v")
    val b = Seq((1L, 5.0), (1L, 3.0), (2L, 7.0)).toDF("k", "v")
    val out = FlinkSql.sql(spark,
      """SELECT * FROM (SELECT k, v, ROW_NUMBER() OVER (ORDER BY v) AS rn
        |FROM b) WHERE rn = 1""".stripMargin,
      Map("b" -> b, "s" -> stream))
    assert(out.collect().map(_.toSeq).toSeq == Seq(Seq(1L, 3.0, 1)))
  }

  test("SQL SKIP TO FIRST/LAST raises on miss and own-start (SQL path only)") {
    import spark.implicits._
    // PATTERN (a b) SKIP TO FIRST a: the skip boundary is the match's
    // own first row — CommonExecMatch raises (loop guard)
    val d = Seq((1L, 1L, 5.0), (1L, 2L, 4.0), (1L, 3L, 6.0))
      .toDF("user_id", "ts_us", "value")
    val ownStart = intercept[Exception] {
      FlinkSql.sql(spark,
        """SELECT * FROM d MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts_us
          |  AFTER MATCH SKIP TO FIRST a
          |  PATTERN (a b)
          |  DEFINE a AS a.value < PREV(a.value),
          |         b AS b.value > PREV(b.value)
          |)""".stripMargin, Map("d" -> d)).collect()
    }
    assert(ownStart.getMessage != null &&
      ownStart.getMessage.contains("own first row") ||
      ownStart.getCause != null &&
        ownStart.getCause.getMessage.contains("own first row"))
    // SKIP TO LAST of an optional variable that matched nothing: raises
    // through the SQL path (the Scala API default stays non-throwing —
    // covered by the 'nope' case in CepNfaSpec)
    val miss = intercept[Exception] {
      FlinkSql.sql(spark,
        """SELECT * FROM d MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts_us
          |  AFTER MATCH SKIP TO LAST c
          |  PATTERN (a b c?)
          |  DEFINE a AS a.value < PREV(a.value),
          |         b AS b.value > PREV(b.value),
          |         c AS c.value > 100
          |)""".stripMargin, Map("d" -> d)).collect()
    }
    assert(miss.getMessage != null && miss.getMessage.contains("matched no") ||
      miss.getCause != null && miss.getCause.getMessage.contains("matched no"))
  }

  test("multi-key SESSION keeps NULL-bearing key tuples distinct") {
    import spark.implicits._
    // (NULL,'a') and ('a',NULL) collapsed under the former concat_ws
    // fold (it drops NULL elements); the JSON-struct key keeps them
    // apart, so their sessions never merge
    val rows = Seq(
      (Option.empty[String], Option("a"), 1000L * 1000000L),
      (Option("a"), Option.empty[String], 1001L * 1000000L),
      (Option.empty[String], Option("a"), 1002L * 1000000L))
      .toDF("k1", "k2", "ts_ns")
    val out = FlinkSql.sql(spark,
      """SELECT k1, k2, COUNT(*) AS n
        |FROM TABLE(SESSION(TABLE e PARTITION BY k1, k2,
        |                   DESCRIPTOR(ts_ns), INTERVAL '1' HOUR))
        |GROUP BY k1, k2, window_start""".stripMargin,
      Map("e" -> rows))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(out == Set((null, "a", 2L), ("a", null, 1L)))
  }

  test("temporal table function rejects a top-level OR in WHERE") {
    import spark.implicits._
    val versions = Seq((1, 1000L, 10.0)).toDF("r_key", "r_time", "r_rate")
    val probes = Seq((1, 2000L)).toDF("k", "t")
    FlinkSql.registerTemporalFunction("rates_or",
      FlinkSql.TemporalFnSpec("rates", "r_time", Seq("r_key")))
    val e = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark,
        """SELECT k, t, r_rate FROM probes, LATERAL TABLE (rates_or(t))
          |WHERE k = r_key OR k = 0""".stripMargin,
        Map("probes" -> probes, "rates" -> versions))
    }
    assert(e.getMessage.contains("top-level OR"))
    // parenthesized OR below a conjunct is fine
    val ok = FlinkSql.sql(spark,
      """SELECT k, t, r_rate FROM probes, LATERAL TABLE (rates_or(t))
        |WHERE k = r_key AND (t > 0 OR t < -5)""".stripMargin,
      Map("probes" -> probes, "rates" -> versions))
    assert(ok.collect().map(_.toSeq).toSeq == Seq(Seq(1, 2000L, 10.0)))
  }

  test("MATCH_PROCTIME is per-row processing time on the streaming face") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val sdf = input.toDF().toDF("user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 second")
    val out = FlinkSql.sql(spark,
      """SELECT user_id, pt
        |FROM t MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us
        |  MEASURES MATCH_PROCTIME() AS pt
        |  ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE A AS A.value > 10, B AS B.value < 5)""".stripMargin,
      Map("t" -> sdf))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("mr_proctime")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mrpt-").toString)
      .start()
    try {
      // each micro-batch: one completing A→B match (with the engine's
      // leading anchor row), then a later batch's rows flush the emission
      input.addData(Seq((1L, 1000000L, 5.0), (1L, 2000000L, 20.0),
        (1L, 3000000L, 3.0)))
      q.processAllAvailable()
      input.addData(Seq((50L, 100000000L, 1.0)))
      q.processAllAvailable()
      Thread.sleep(1200) // past the clock's sub-second noise floor
      input.addData(Seq((2L, 200000000L, 5.0), (2L, 201000000L, 20.0),
        (2L, 202000000L, 3.0)))
      q.processAllAvailable()
      input.addData(Seq((51L, 300000000L, 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val byKey = spark.table("mr_proctime")
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(byKey.contains(1L) && byKey.contains(2L), byKey)
    // a plan-time constant would stamp both batches identically; the
    // per-row streaming clock must separate them by the sleep
    assert(byKey(2L).getTime - byKey(1L).getTime >= 1000,
      s"proctime not per-batch: $byKey")
  }

  test("statement cache: repeat text returns the compiled plan, new inputs miss") {
    import spark.implicits._
    val t1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val text = "SELECT k, SUM(v) AS s FROM tc GROUP BY k"
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val a = FlinkSql.sql(spark, text, Map("tc" -> t1))
    assert(rows(a) == Set((1L, 10.0), (2L, 20.0)))
    assert(rows(FlinkSql.sql(spark, text, Map("tc" -> t1))) == rows(a))
    // an equivalent REBUILT input (fresh expression ids) reads the same
    val t1b = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    assert(rows(FlinkSql.sql(spark, text, Map("tc" -> t1b))) == rows(a))
    // a DIFFERENT input under the same name reads its own rows
    val t2 = Seq((1L, 99.0)).toDF("k", "v")
    val b = FlinkSql.sql(spark, text, Map("tc" -> t2))
    assert(rows(b) == Set((1L, 99.0)))
    // and re-running the ORIGINAL text+input stays correct
    val a2 = FlinkSql.sql(spark, text, Map("tc" -> t1))
    assert(rows(a2) == Set((1L, 10.0), (2L, 20.0)))
  }

  test("statement cache: redefining a session function invalidates compiled plans") {
    import spark.implicits._
    val t = Seq(3L).toDF("x")
    val text = "SELECT cache_inval_fn(x) AS y FROM tci"
    spark.udf.register("cache_inval_fn", (v: Long) => v + 1)
    val a = FlinkSql.sql(spark, text, Map("tci" -> t))
    assert(a.as[Long].collect().toSeq == Seq(4L))
    // a rebound function name changes what the identical text means;
    // every call analyzes afresh, so the plain rebinding is seen
    spark.udf.register("cache_inval_fn", (v: Long) => v * 10)
    val b = FlinkSql.sql(spark, text, Map("tci" -> t))
    assert(b.as[Long].collect().toSeq == Seq(30L),
      "stale compiled plan served after function redefinition")
  }

  test("an identical statement sees a session time-zone change") {
    import spark.implicits._
    // 2024-01-01 12:00:00 UTC = 04:00 in Los Angeles (PST)
    val t = Seq(new java.sql.Timestamp(1704110400000L)).toDF("ts")
    val text = "SELECT date_format(ts, 'HH') AS h FROM ttz"
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try {
      assert(FlinkSql.sql(spark, text, Map("ttz" -> t))
        .as[String].collect().toSeq == Seq("12"))
      spark.conf.set(key, "America/Los_Angeles")
      assert(FlinkSql.sql(spark, text, Map("ttz" -> t))
        .as[String].collect().toSeq == Seq("04"))
    } finally spark.conf.set(key, prev)
  }

  test("splice: a CTE named like a passed table shadows it") {
    import spark.implicits._
    val out = FlinkSql.sql(spark,
      """WITH sp_cte AS (SELECT v + 10 AS v FROM sp_cte)
        |SELECT v FROM sp_cte
        |WHERE v IN (SELECT v FROM sp_cte)""".stripMargin,
      Map("sp_cte" -> Seq(1).toDF("v")))
    // the definition reads the passed table; the body reads the CTE
    assert(out.as[Int].collect().toSeq == Seq(11))
  }

  test("splice: a passed table shadows a session view, which stays as it was") {
    import spark.implicits._
    Seq(1).toDF("v").createOrReplaceTempView("sp_shadow")
    try {
      val out = FlinkSql.sql(spark, "SELECT v FROM sp_shadow",
        Map("sp_shadow" -> Seq(2).toDF("v")))
      assert(out.as[Int].collect().toSeq == Seq(2))
      assert(spark.table("sp_shadow").as[Int].collect().toSeq == Seq(1))
    } finally spark.catalog.dropTempView("sp_shadow")
  }

  test("splice: a session view not among the passed tables still resolves") {
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "s").createOrReplaceTempView("sp_sess")
    try {
      val out = FlinkSql.sql(spark,
        "SELECT p.k, s.s FROM sp_passed p JOIN sp_sess s ON p.k = s.k",
        Map("sp_passed" -> Seq(2).toDF("k")))
      assert(out.as[(Int, String)].collect().toSeq == Seq((2, "b")))
    } finally spark.catalog.dropTempView("sp_sess")
  }

  test("splice: a window-TVF statement leaves the session's temp views as they were") {
    def tempViews() = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tempViews()
    val out = FlinkSql.sql(spark,
      """SELECT window_start, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE sp_tvf_events, DESCRIPTOR(ts_ns),
        |  INTERVAL '10' MINUTE))
        |GROUP BY window_start""".stripMargin,
      Map("sp_tvf_events" -> events))
    assert(out.collect().nonEmpty)
    assert(tempViews() == before)
  }

  test("double-quoted alias rewrite: apostrophes and comment starts stay opaque") {
    import spark.implicits._
    val t = Seq((1L, 2L)).toDF("k", "v")
    val out = FlinkSql.sql(spark,
      "SELECT k AS \"it's -- tricky\", v AS \"plain\" FROM tdq",
      Map("tdq" -> t))
    assert(out.columns.toSeq == Seq("it's -- tricky", "plain"))
    assert(out.collect().head.getLong(0) == 1L)
  }
}
