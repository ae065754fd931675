package graft.queries

import graft.Tables
import graft.streaming._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Unified batch/stream parity queries: each query runs a graft.streaming
  * operator on BATCH input (watermarks no-op, state ops route to their
  * exact batch form) and is DuckDB-oracle-checked — the reference's
  * batch-is-a-special-case-of-streaming contract (its 2.x unified runtime).
  * Stream-mode equivalence of the same code paths is asserted in
  * StreamingSpec (MemoryStream parity suites).
  *
  * All window arithmetic here is exact long millis over the micro-truncated
  * `ts` (DuckDB sees TIMESTAMP_NS truncated to micros via CAST, identical
  * to Spark's TimestampType reading).
  */
object StreamQueries {
  import Exact._

  private val castTs = "CAST(ts AS TIMESTAMP)"
  private val msExpr = s"epoch_us($castTs) // 1000"

  val defs: Seq[QueryDef] = Seq(

    // State bootstrap WRITE path (flink-state-processing-api/…/
    // StateBootstrapTransformation.java:63, SavepointWriter): batch
    // pre-aggregate HALF the events, author a committed-batch-0
    // checkpoint from it, then stream the OTHER half into a groupBy-count
    // that resumes from the bootstrapped state — the final counts must
    // equal a flat aggregate over ALL events, which is the oracle.
    QueryDef(
      "q_state_bootstrap",
      (s, dir) => {
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"))
        val seedSrc = ev.where(pmod(col("event_id"), lit(2)) === 0)
        val rest = ev.where(pmod(col("event_id"), lit(2)) === 1)
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_bs_ck").toString
        val inDir = java.nio.file.Files
          .createTempDirectory("graft_bs_in").toString
        rest.select("user_id").write.mode("append").parquet(inDir)
        val counts = s.readStream
          .schema(StructType(Seq(StructField("user_id", LongType))))
          .parquet(inDir)
          .groupBy("user_id").count()
        StateBootstrap.writeAggCheckpoint(
          seedSrc.groupBy("user_id").agg(count(lit(1)).as("cnt")),
          ckpt, Seq("user_id"),
          // the resumed query adopts this count from the authored offset
          // log (Spark restart semantics), sized like a fresh query's
          numShufflePartitions = graft.GraftSession.streamPartitions(counts))
        val name =
          s"bs_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = counts
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
        s.table(name)
          .select(col("user_id"), col("count").as("n"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id, COUNT(*) AS n FROM events
        GROUP BY user_id ORDER BY user_id
      """.trim)),

    QueryDef(
      "q_unified_tumble",
      (s, dir) => {
        StreamingWindows.tumble(Tables.events(s, dir), "ts", "10 minutes",
          "10 seconds", Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value")))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("sum_value"))
          .orderBy(col("window_start"), col("event_type"))
      },
      Some(s"""
        SELECT time_bucket(INTERVAL '10 minutes', $castTs) AS window_start,
               event_type, COUNT(*) AS n, ${sqlSum("value", 6)} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
      """.trim)),

    QueryDef(
      "q_unified_hop",
      (s, dir) => {
        StreamingWindows.hop(Tables.events(s, dir), "ts", "10 minutes",
          "5 minutes", "10 seconds", Seq.empty :+ col("event_type"),
          Seq(count(lit(1)).as("n")))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"))
          .orderBy(col("window_start"), col("event_type"))
      },
      Some(s"""
        SELECT time_bucket(INTERVAL '5 minutes', $castTs)
                 - i * INTERVAL '5 minutes' AS window_start,
               event_type, COUNT(*) AS n
        FROM events CROSS JOIN generate_series(0, 1) g(i)
        GROUP BY 1, 2 ORDER BY 1, 2
      """.trim)),

    // session_window: a gap >= 30s starts a new session (Spark merges only
    // strictly-closer events; the oracle's island rule mirrors that).
    QueryDef(
      "q_unified_session",
      (s, dir) => {
        StreamingWindows.session(Tables.events(s, dir), "ts", "30 seconds",
          "10 seconds", Seq(col("user_id")),
          Seq(count(lit(1)).as("cnt")))
          .select(col("session_window.start").as("session_start"),
            col("user_id"), col("cnt"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some(s"""
        WITH e AS (SELECT user_id, $castTs AS t, epoch_us($castTs) AS tu
                   FROM events),
        m AS (SELECT user_id, t, tu,
                CASE WHEN lag(tu) OVER w IS NULL
                       OR tu - lag(tu) OVER w >= 30000000 THEN 1 ELSE 0 END
                  AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu)),
        s AS (SELECT user_id, t,
                SUM(new_s) OVER (PARTITION BY user_id ORDER BY tu
                                 ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
        SELECT MIN(t) AS session_start, user_id, COUNT(*) AS cnt
        FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
      """.trim)),

    // CUMULATE via slice-explode (maxSize 30 min, step 10 min).
    QueryDef(
      "q_unified_cumulate",
      (s, dir) => {
        StreamingWindows.cumulate(Tables.events(s, dir), "ts",
          maxSizeMs = 1800000L, stepMs = 600000L, delay = "10 seconds",
          Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value")))
          .orderBy(col("window_start"), col("window_end"), col("event_type"))
      },
      Some(s"""
        WITH e AS (SELECT event_type, value, $msExpr AS ms FROM events),
        x AS (SELECT event_type, value,
                make_timestamp((ms - ms % 1800000) * 1000) AS window_start,
                make_timestamp(e2.window_end_ms * 1000) AS window_end
              FROM e, LATERAL (
                SELECT unnest(generate_series(
                  ms - ms % 600000 + 600000,
                  ms - ms % 1800000 + 1800000,
                  600000)) AS window_end_ms) e2)
        SELECT window_start, window_end, event_type,
               COUNT(*) AS n, ${sqlSum("value", 6)} AS sum_value
        FROM x GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
      """.trim)),

    // The state-BOUNDED cumulate (tumble slices + timer-evicted fold):
    // its batch face delegates to the slice-explode form, so the same
    // window semantics are oracle-checked here while StreamingSpec
    // asserts the streaming face's parity + state eviction. Aggregates
    // restricted to the deterministic count/min/max (the mergeable
    // AggSpec family's sum is a plain double fold, not oracle-exact).
    QueryDef(
      "q_unified_cumulate_bounded",
      (s, dir) => {
        import graft.changelog.AggSpec
        StreamingWindows.cumulateBounded(Tables.events(s, dir), "ts",
          maxSizeMs = 1800000L, stepMs = 600000L, delay = "10 seconds",
          Seq("event_type"),
          Seq(AggSpec("n", "value", "count"),
            AggSpec("min_v", "value", "min"),
            AggSpec("max_v", "value", "max")))
          .orderBy(col("window_start"), col("window_end"), col("event_type"))
      },
      Some(s"""
        WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS value,
                          $msExpr AS ms FROM events),
        x AS (SELECT event_type, value,
                make_timestamp((ms - ms % 1800000) * 1000) AS window_start,
                make_timestamp(e2.window_end_ms * 1000) AS window_end
              FROM e, LATERAL (
                SELECT unnest(generate_series(
                  ms - ms % 600000 + 600000,
                  ms - ms % 1800000 + 1800000,
                  600000)) AS window_end_ms) e2)
        SELECT window_start, window_end, event_type,
               COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v
        FROM x GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
      """.trim)),

    // Windowed keep-last dedup through the unified op (batch route =
    // exact row_number keep-last; stream route asserted in StreamingSpec).
    QueryDef(
      "q_unified_dedup_last",
      (s, dir) => {
        StreamingDedupLast(Tables.events(s, dir), Seq("user_id"), "ts",
          windowMs = 600000L, delay = "10 seconds")
          .select(col("user_id"), col("window_start"), col("event_id"),
            col("value"))
          .orderBy(col("user_id"), col("window_start"))
      },
      Some(s"""
        WITH e AS (SELECT user_id, event_id, value, $castTs AS tmu,
                          $msExpr AS ms FROM events),
        w AS (SELECT user_id, event_id, value,
                make_timestamp((ms - ms % 600000) * 1000) AS window_start,
                row_number() OVER (PARTITION BY user_id, ms - ms % 600000
                                   ORDER BY tmu DESC) AS rn
              FROM e)
        SELECT user_id, window_start, event_id, value
        FROM w WHERE rn = 1 ORDER BY user_id, window_start
      """.trim)),

    // Windowed Top-3 through the unified op.
    QueryDef(
      "q_unified_topn",
      (s, dir) => {
        StreamingTopN(Tables.events(s, dir), Seq("event_type"), "ts",
          "value", n = 3, windowMs = 3600000L, delay = "10 seconds")
          .select(col("event_type"), col("window_start"), col("rnk"),
            col("event_id"), col("value"))
          .orderBy(col("event_type"), col("window_start"), col("rnk"))
      },
      Some(s"""
        WITH e AS (SELECT event_type, event_id, value, $castTs AS tmu,
                          $msExpr AS ms FROM events),
        w AS (SELECT event_type, event_id, value,
                make_timestamp((ms - ms % 3600000) * 1000) AS window_start,
                CAST(row_number() OVER (
                  PARTITION BY event_type, ms - ms % 3600000
                  ORDER BY value DESC, tmu ASC) AS INT) AS rnk
              FROM e)
        SELECT event_type, window_start, rnk, event_id, value
        FROM w WHERE rnk <= 3 ORDER BY event_type, window_start, rnk
      """.trim)),

    // Rows-bounded running sum through the unified op (decimal-exact sum
    // cast to double for cross-engine hash equality).
    QueryDef(
      "q_unified_over",
      (s, dir) => {
        val in = Tables.events(s, dir)
          .withColumn("vdec", col("value").cast(DecimalType(18, 6)))
        StreamingOver(in, Seq("user_id"), "ts", "vdec", precedingRows = 2,
          delay = "10 seconds")
          .select(col("user_id"), col("event_id"),
            col("run_sum").cast("double").as("run_sum"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""
        SELECT user_id, event_id,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
            PARTITION BY user_id ORDER BY $castTs
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum
        FROM events ORDER BY user_id, event_id
      """.trim)),

    // Time-RANGE-bounded streaming OVER (RowTimeRangeBoundedPrecedingFunction):
    // running 5-minute-interval sum per user, peer rows (equal timestamps)
    // sharing one frame. Values fixed-point-scaled to BIGINT so sums are
    // bit-identical in any accumulation order.
    QueryDef(
      "q_unified_over_range",
      (s, dir) => {
        val in = Tables.events(s, dir)
          .withColumn("v", floor(col("value") * 1e6).cast("long"))
        StreamingOver.range(in, Seq("user_id"), "ts", "v",
          precedingMs = 300000L, delay = "10 seconds")
          .select(col("user_id"), col("event_id"), col("run_sum"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""
        SELECT user_id, event_id,
          CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) OVER (
            PARTITION BY user_id ORDER BY epoch_ms($castTs)
            RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW) AS BIGINT)
            AS run_sum
        FROM events ORDER BY user_id, event_id
      """.trim)),

    // UNBOUNDED PRECEDING streaming OVER
    // (RowTimeRangeUnboundedPrecedingOverFunction): running
    // since-forever sum per user, peer rows (equal timestamps) sharing
    // one frame; per-key state is just the accumulator — O(1). Values
    // fixed-point-scaled to BIGINT for bit-identical sums.
    QueryDef(
      "q_unified_over_unbounded",
      (s, dir) => {
        val in = Tables.events(s, dir)
          .withColumn("v", floor(col("value") * 1e6).cast("long"))
        StreamingOver.unbounded(in, Seq("user_id"), "ts", "v",
          delay = "10 seconds")
          .select(col("user_id"), col("event_id"), col("run_sum"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""
        SELECT user_id, event_id,
          CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) OVER (
            PARTITION BY user_id ORDER BY epoch_ms($castTs)
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS run_sum
        FROM events ORDER BY user_id, event_id
      """.trim)),

    // The full monotone unbounded-OVER accumulator family: running
    // SUM/COUNT/MIN/MAX since stream start per user — all O(1) state.
    QueryDef(
      "q_unified_over_unbounded_multi",
      (s, dir) => {
        val in = Tables.events(s, dir)
          .withColumn("v", floor(col("value") * 1e6).cast("long"))
        StreamingOver.unboundedMulti(in, Seq("user_id"), "ts", "v",
          delay = "10 seconds")
          .select(col("user_id"), col("event_id"), col("run_sum"),
            col("run_cnt"), col("run_min"), col("run_max"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""
        SELECT user_id, event_id,
          CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) OVER w AS BIGINT)
            AS run_sum,
          CAST(COUNT(*) OVER w AS BIGINT) AS run_cnt,
          CAST(MIN(CAST(FLOOR(value * 1e6) AS BIGINT)) OVER w AS BIGINT)
            AS run_min,
          CAST(MAX(CAST(FLOOR(value * 1e6) AS BIGINT)) OVER w AS BIGINT)
            AS run_max
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms($castTs)
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id
      """.trim)),

    // Tumbling windows with a 3-minute start offset (TUMBLE(…, offset)):
    // boundaries at hh:03, hh:13, … instead of hh:00.
    QueryDef(
      "q_tumble_offset",
      (s, dir) => {
        StreamingWindows.tumbleOffset(Tables.events(s, dir), "ts",
          "10 minutes", "3 minutes", "10 seconds", Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value")))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("sum_value"))
          .orderBy(col("window_start"), col("event_type"))
      },
      Some(s"""
        SELECT time_bucket(INTERVAL '10 minutes',
                 $castTs - INTERVAL '3 minutes')
                 + INTERVAL '3 minutes' AS window_start,
               event_type, COUNT(*) AS n, ${sqlSum("value", 6)} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
      """.trim)),

    // Dynamic-gap session windows (SessionWindowTimeGapExtractor): clicks
    // extend a session by 60 s, everything else by 180 s; sessions are the
    // interval-union islands of [ts, ts+gap). The oracle re-derives the
    // islands with a running MAX(ts+gap) break condition.
    QueryDef(
      "q_session_dynamic",
      (s, dir) => {
        // session_window's gap expression must be CalendarIntervalType;
        // make_interval is the producer (INTERVAL literals are DayTime)
        val gap = expr("CASE WHEN event_type = 'click' " +
          "THEN make_interval(0,0,0,0,0,0,60) " +
          "ELSE make_interval(0,0,0,0,0,3,0) END")
        StreamingWindows.sessionDynamic(Tables.events(s, dir), "ts", gap,
          "10 seconds", Seq(col("user_id")),
          Seq(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value")))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start"),
            unix_micros(col("session_window.end")).as("session_end"),
            col("n"), col("sum_value"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS tu, value,
                 CASE WHEN event_type = 'click' THEN 60000000
                      ELSE 180000000 END AS gap_us
          FROM events),
        c AS (SELECT *, MAX(tu + gap_us) OVER (
                PARTITION BY user_id ORDER BY tu
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS cum_end
              FROM e),
        b AS (SELECT *, CASE WHEN cum_end IS NULL OR tu >= cum_end
                             THEN 1 ELSE 0 END AS brk FROM c),
        g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tu
                ROWS UNBOUNDED PRECEDING) AS sid FROM b)
        SELECT user_id, MIN(tu) AS session_start,
               MAX(tu + gap_us) AS session_end,
               COUNT(*) AS n, ${sqlSum("value", 6)} AS sum_value
        FROM g GROUP BY user_id, sid ORDER BY user_id, session_start
      """.trim)),

    // SLIDING count windows (countWindow(6, 3)): window w covers rows
    // (3w-6, 3w] per key; fires only when full.
    QueryDef(
      "q_count_window_sliding",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("value"), col("event_id"))
        val d = graft.operators.Dedup.keepFirst(e,
          Seq(col("user_id"), col("ts_us")), Seq(col("event_id")))
        CountWindows.sliding(d, Seq("user_id"), "ts_us", "value",
          size = 6, slide = 3)
          .orderBy(col("user_id"), col("win_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS tu, value,
                 row_number() OVER (PARTITION BY user_id, epoch_ns(ts) // 1000
                                    ORDER BY event_id) AS dd
          FROM events),
        d AS (SELECT user_id, tu, value,
                row_number() OVER (PARTITION BY user_id ORDER BY tu) AS rn,
                COUNT(*) OVER (PARTITION BY user_id) AS tot
              FROM e WHERE dd = 1),
        x AS (SELECT user_id, value, tot,
                unnest(range((rn + 2) // 3, (rn + 5) // 3 + 1)) AS win_id
              FROM d)
        SELECT user_id, win_id, COUNT(*) AS n_rows,
               ${sqlSum("value")} AS sum_v
        FROM x WHERE win_id * 3 >= 6 AND win_id * 3 <= tot
        GROUP BY user_id, win_id ORDER BY user_id, win_id
      """.trim)),

    // Tumbling COUNT windows per key (KeyedStream.countWindow(5)): only
    // FULL windows of exactly 5 rows fire; the trailing partial window is
    // silent. Deterministic order via the (user, ts_us) dedup.
    QueryDef(
      "q_count_window",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("value"), col("event_id"))
        val d = graft.operators.Dedup.keepFirst(e,
          Seq(col("user_id"), col("ts_us")), Seq(col("event_id")))
        CountWindows(d, Seq("user_id"), "ts_us", "value", size = 5)
          .orderBy(col("user_id"), col("win_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS tu, value,
                 row_number() OVER (PARTITION BY user_id, epoch_ns(ts) // 1000
                                    ORDER BY event_id) AS dd
          FROM events),
        d AS (SELECT user_id, tu, value,
                CAST((row_number() OVER (PARTITION BY user_id ORDER BY tu)
                      - 1) // 5 AS BIGINT) AS win_id
              FROM e WHERE dd = 1)
        SELECT user_id, win_id, COUNT(*) AS n_rows,
               ${sqlSum("value")} AS sum_v
        FROM d GROUP BY user_id, win_id HAVING COUNT(*) = 5
        ORDER BY user_id, win_id
      """.trim))
  )
}
