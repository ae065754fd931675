package graft

import graft.ml.HashScoreModel
import graft.operators.{VectorIndex, VectorIndexes}
import graft.sql.{FlinkDdl, FlinkSql}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._

/** DDL + DML script runner ([[graft.sql.FlinkDdl]]) and the ML_PREDICT /
  * VECTOR_SEARCH TVF spellings: CREATE TABLE parses into working sources,
  * WATERMARK DDL reaches `withWatermark` on the streaming face, statement
  * sets execute every INSERT, and custom vector indexes plug in through
  * the registry.
  */
class FlinkDdlSpec extends SparkSpecBase {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_ddl_spec").toString

  test("CREATE TABLE over parquet + computed column + final SELECT") {
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE ev (
         |  event_id BIGINT,
         |  user_id BIGINT,
         |  value DOUBLE,
         |  ts TIMESTAMP(6),
         |  ts_ltz AS TO_TIMESTAMP_LTZ(UNIX_TIMESTAMP(ts), 0)
         |) WITH ('connector'='filesystem', 'path'='$sf/events.parquet',
         |        'format'='parquet');
         |SELECT COUNT(*) AS n, COUNT(ts_ltz) AS n_ts FROM ev""".stripMargin)
    val r = out.collect().head
    assert(r.getLong(0) > 0 && r.getLong(0) == r.getLong(1))
  }

  test("WATERMARK DDL applies withWatermark on the streaming source") {
    // stage the parquet in its own dir (streaming read wants a directory)
    val dir = tmpDir()
    Tables.events(spark, sf).select(col("event_id"), col("user_id"),
        col("value"), col("ts_ns"))
      .write.mode("overwrite").parquet(s"$dir/ev")
    val res = FlinkDdl.runScript(spark,
      s"""CREATE TABLE ev (
         |  event_id BIGINT,
         |  user_id BIGINT,
         |  value DOUBLE,
         |  ts_ns BIGINT,
         |  ts_ltz AS TO_TIMESTAMP_LTZ(ts_ns DIV 1000000000, 0),
         |  WATERMARK FOR ts_ltz AS ts_ltz - INTERVAL '5' SECOND
         |) WITH ('connector'='filesystem', 'path'='$dir/ev',
         |        'format'='parquet')""".stripMargin)
    val spec = res.catalog("ev")
    assert(spec.watermark.contains(FlinkDdl.WatermarkSpec("ts_ltz", "5 seconds")))
    val stream = FlinkDdl.streamingSource(spark, spec)
    assert(stream.isStreaming)
    val wms = stream.queryExecution.analyzed.collect {
      case e: EventTimeWatermark => (e.eventTime.name, e.delay.microseconds)
    }
    assert(wms == Seq(("ts_ltz", 5000000L)))
  }

  test("statement set runs every INSERT; INTO appends, OVERWRITE replaces") {
    val dir = tmpDir()
    def script(insert: String) =
      s"""CREATE TABLE src (k BIGINT, v BIGINT) WITH (
         |  'connector'='datagen', 'number-of-rows'='10',
         |  'fields.k.kind'='sequence', 'fields.k.start'='0',
         |  'fields.v.kind'='sequence', 'fields.v.start'='100');
         |CREATE TABLE s1 (k BIGINT, v BIGINT) WITH (
         |  'connector'='filesystem', 'path'='$dir/s1', 'format'='parquet');
         |CREATE TABLE s2 (k BIGINT, v BIGINT) WITH (
         |  'connector'='filesystem', 'path'='$dir/s2', 'format'='parquet');
         |EXECUTE STATEMENT SET
         |BEGIN
         |  $insert s1 SELECT k, v FROM src;
         |  $insert s2 SELECT k, v + 1 FROM src;
         |END;
         |SELECT (SELECT COUNT(*) FROM s1) AS n1,
         |       (SELECT COUNT(*) FROM s2) AS n2""".stripMargin
    val first = FlinkDdl.run(spark, script("INSERT INTO")).collect().head
    assert((first.getLong(0), first.getLong(1)) == ((10L, 10L)))
    val second = FlinkDdl.run(spark, script("INSERT INTO")).collect().head
    assert((second.getLong(0), second.getLong(1)) == ((20L, 20L)),
      "INSERT INTO must append")
    val third = FlinkDdl.run(spark, script("INSERT OVERWRITE")).collect().head
    assert((third.getLong(0), third.getLong(1)) == ((10L, 10L)),
      "INSERT OVERWRITE must replace")
  }

  test("INSERT with explicit column list reorders to the sink schema") {
    val dir = tmpDir()
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE src (a BIGINT, b BIGINT) WITH (
         |  'connector'='datagen', 'number-of-rows'='5',
         |  'fields.a.kind'='sequence', 'fields.a.start'='1',
         |  'fields.b.kind'='sequence', 'fields.b.start'='10');
         |CREATE TABLE snk (b BIGINT, a BIGINT) WITH (
         |  'connector'='filesystem', 'path'='$dir/snk', 'format'='parquet');
         |INSERT INTO snk (a, b) SELECT a, b FROM src;
         |SELECT MIN(a) AS mina, MIN(b) AS minb FROM snk""".stripMargin)
      .collect().head
    assert((out.getLong(0), out.getLong(1)) == ((1L, 10L)))
  }

  test("datagen random fields are deterministic across runs") {
    val script =
      """CREATE TABLE g (k BIGINT, r BIGINT) WITH (
        |  'connector'='datagen', 'number-of-rows'='100',
        |  'fields.k.kind'='sequence', 'fields.k.start'='0',
        |  'fields.r.kind'='random', 'fields.r.min'='0', 'fields.r.max'='9');
        |SELECT SUM(r) AS s, MIN(r) AS mn, MAX(r) AS mx FROM g""".stripMargin
    val a = FlinkDdl.run(spark, script).collect().head
    val b = FlinkDdl.run(spark, script).collect().head
    assert(a == b)
    assert(a.getLong(1) >= 0 && a.getLong(2) <= 9)
  }

  test("CREATE VIEW and DROP TABLE work in a script") {
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE ev (event_id BIGINT, value DOUBLE) WITH (
         |  'connector'='filesystem', 'path'='$sf/events.parquet',
         |  'format'='parquet');
         |CREATE VIEW big AS SELECT * FROM ev WHERE value > 50;
         |SELECT COUNT(*) AS n FROM big""".stripMargin)
    assert(out.collect().head.getLong(0) > 0)
  }

  test("TO_TIMESTAMP_LTZ precisions rewrite to the Spark spellings") {
    assert(FlinkDdl.rewriteExpr("TO_TIMESTAMP_LTZ(x, 0)") ==
      "timestamp_seconds(x)")
    assert(FlinkDdl.rewriteExpr("TO_TIMESTAMP_LTZ(f(a, b), 3)") ==
      "timestamp_millis(f(a, b))")
    assert(FlinkDdl.rewriteExpr("1 + TO_TIMESTAMP_LTZ(x, 6) IS NOT NULL") ==
      "1 + timestamp_micros(x) IS NOT NULL")
  }

  test("ML_PREDICT SQL with async config matches the sync path") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("n_chars"))
    val models: Map[String, graft.ml.ModelProvider] =
      Map("m" -> new HashScoreModel("n_chars"))
    def q(cfg: String) = FlinkSql.sql(spark,
      s"""SELECT doc_id, score FROM ML_PREDICT(
         |  TABLE docs, MODEL m, DESCRIPTOR(n_chars)$cfg)
         |ORDER BY doc_id""".stripMargin,
      Map("docs" -> docs), models)
    val sync = q("").collect()
    val async = q(", MAP['async', 'true', 'timeout', '30s']").collect()
    assert(sync.sameElements(async))
    // unknown model name must fail clearly
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark,
        "SELECT doc_id FROM ML_PREDICT(TABLE docs, MODEL nope, DESCRIPTOR(n_chars))",
        Map("docs" -> docs), models)
    }
  }

  test("a custom VectorIndex plugs in through the registry") {
    // custom index: delegates candidate generation to brute force but tags
    // itself — proves the SPI seam (registry + config routing) end to end
    object EchoIndex extends VectorIndex {
      override def name: String = "custom-echo"
      override def topK(corpus: DataFrame, queries: DataFrame, k: Int)
          : DataFrame =
        VectorIndexes("brute").topK(corpus, queries, k)
    }
    VectorIndexes.register(EchoIndex)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val q = emb.where(col("vec_id") < 3)
    def viaSql(idx: String) = FlinkSql.sql(spark,
      s"""SELECT vec_id AS qid, search_vec_id AS cid, rnk, score
         |FROM q, LATERAL TABLE(VECTOR_SEARCH(
         |  TABLE emb, q.embedding, DESCRIPTOR(embedding), 3,
         |  MAP['index', '$idx']))
         |ORDER BY qid, rnk""".stripMargin,
      Map("emb" -> emb, "q" -> q))
    val brute = viaSql("brute").collect()
    val custom = viaSql("custom-echo").collect()
    assert(brute.nonEmpty && brute.sameElements(custom))
    intercept[IllegalArgumentException](VectorIndexes("no-such-index"))
  }

  test("temporal join keys and time column resolve case-insensitively") {
    val e = Tables.events(spark, sf)
    val purchases = graft.operators.Dedup.keepFirst(
      e.where(col("event_type") === "purchase"),
      Seq(col("user_id"), col("ts_us")), Seq(col("event_id")))
    def run(on: String) = FlinkSql.sql(spark,
      s"""SELECT c.event_id, p.value AS v
         |FROM clicks AS c
         |JOIN purchases FOR SYSTEM_TIME AS OF c.ts_us AS p
         |  ON $on
         |ORDER BY c.event_id""".stripMargin,
      Map("clicks" -> e.where(col("event_type") === "click"),
        "purchases" -> purchases))
    val lower = run("c.user_id = p.user_id").collect()
    val upper = run("c.USER_ID = p.user_id").collect()
    assert(lower.nonEmpty && lower.sameElements(upper))
  }

  test("PARTITIONED BY writes hive-style dirs and reads prune on them") {
    val dir = tmpDir()
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='100', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE sink (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/sink',
         |        'format'='parquet');
         |INSERT INTO sink SELECT k,
         |  CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END AS tag FROM src;
         |SELECT tag, COUNT(*) AS n FROM sink GROUP BY tag
         |""".stripMargin)
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("even" -> 50L, "odd" -> 50L), s"$got")
    // physical layout: hive-style partition directories
    assert(new java.io.File(s"$dir/sink/tag=even").isDirectory &&
      new java.io.File(s"$dir/sink/tag=odd").isDirectory)
    // a filter on the partition column must prune at the scan, not filter
    // rows post-read
    val res = FlinkDdl.runScript(spark,
      s"""CREATE TABLE sink (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/sink',
         |        'format'='parquet')""".stripMargin)
    val pruned = FlinkDdl.sourceDf(spark, res.catalog("sink"))
      .where(col("tag") === "even")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches(".*PartitionFilters: \\[[^]]*tag[^]]*\\].*"),
      s"partition filter must reach the scan:\n$plan")
    assert(pruned.count() == 50)
  }

  test("CTAS authors the table immediately and registers its schema") {
    val dir = tmpDir()
    val res = FlinkDdl.runScript(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='100', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE agg WITH ('connector'='filesystem',
         |  'path'='$dir/agg', 'format'='parquet')
         |AS SELECT k % 10 AS g, COUNT(*) AS n FROM src GROUP BY k % 10;
         |SELECT COUNT(*) AS groups, SUM(n) AS total FROM agg
         |""".stripMargin)
    val r = res.dataFrame.collect().head
    assert((r.getLong(0), r.getLong(1)) == ((10L, 100L)), s"$r")
    // CTAS derived the declared schema from the query result
    val spec = res.catalog("agg")
    assert(spec.columns.map(_.name) == Seq("g", "n"))
    // a CTAS-terminated script returns the authored table
    val tail = FlinkDdl.run(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='7', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE copy2 WITH ('connector'='filesystem',
         |  'path'='$dir/copy2', 'format'='parquet')
         |AS SELECT k FROM src
         |""".stripMargin)
    assert(tail.count() == 7)
  }

  test("runStreaming: INSERT INTO starts a continuous query on file streams") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (
         |  event_id BIGINT, user_id BIGINT, value DOUBLE
         |) WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE snk (event_id BIGINT, big DOUBLE)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO snk
         |SELECT event_id, value * 2 AS big FROM src WHERE user_id % 2 = 0
         |""".stripMargin)
    assert(qs.size == 1 && qs.head.isActive)
    try {
      val ev = Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), col("value"))
      val (h1, h2) = (ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 === 1))
      val expected = ev.where(col("user_id") % 2 === 0).count()
      h1.write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      val afterFirst = spark.read.parquet(s"$dir/snk").count()
      assert(afterFirst > 0 && afterFirst < expected,
        s"first file batch only: $afterFirst of $expected")
      // a file arriving later is picked up by the SAME running query
      h2.write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      val out = spark.read.parquet(s"$dir/snk")
      assert(out.count() == expected, s"${out.count()} vs $expected")
      // the transform ran, not just a copy
      val chk = out.as[(Long, Double)].collect().toMap
      val src = ev.where(col("user_id") % 2 === 0)
        .as[(Long, Long, Double)].collect()
      src.foreach { case (id, _, v) => assert(chk(id) == v * 2) }
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: changelog-mode inference routes an updating INSERT " +
      "through the PK-keyed upsert materializer") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // The reference's flagship semantic: an unwindowed GROUP BY in a
    // streaming INSERT is an UPDATING query — the planner must infer the
    // changelog mode and pick upsert materialization on the PK, without
    // the user assembling ChangelogAgg/UpsertSink by hand
    // (FlinkChangelogModeInferenceProgram.scala, StreamExecSink.java:137).
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (
         |  event_id BIGINT, event_type STRING, value DOUBLE
         |) WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE agg_snk (
         |  event_type STRING, n BIGINT,
         |  PRIMARY KEY (event_type) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO agg_snk
         |SELECT event_type, COUNT(*) AS n FROM src GROUP BY event_type
         |""".stripMargin)
    assert(qs.size == 1 && qs.head.isActive)
    try {
      val ev = Tables.events(spark, sf)
        .select(col("event_id"), col("event_type"), col("value"))
      val (h1, h2) = (ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 === 1))
      def counts(df: DataFrame): Map[String, Long] =
        df.groupBy("event_type").count().as[(String, Long)].collect().toMap
      h1.write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      val snk1 = graft.changelog.UpsertSink.readTable(spark, s"$dir/snk")
      // materialized FINAL STATE, not an append log: one row per key
      assert(snk1.columns.toSet == Set("event_type", "n"))
      assert(snk1.as[(String, Long)].collect().toMap == counts(h1))
      // second arrival REVISES the counts in place (same keys, new values)
      h2.write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      val snk2 = graft.changelog.UpsertSink.readTable(spark, s"$dir/snk")
      assert(snk2.as[(String, Long)].collect().toMap == counts(ev))
      assert(snk2.count() == counts(ev).size.toLong)
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: a streaming Top-N infers COMPLETE mode and " +
      "truncate-replaces the sink (no PK needed)") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // GROUP BY + ORDER BY + LIMIT: a new entrant can displace OTHER keys'
    // rows, so per-key upserts can't express the revision — the planner
    // must pick whole-result replacement (the reference's streaming
    // rank/Top-N tier under a retract sink).
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k STRING, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE top2 (k STRING, n BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO top2
         |SELECT k, COUNT(*) AS n FROM src GROUP BY k
         |ORDER BY n DESC, k LIMIT 2""".stripMargin)
    try {
      // arrival 1: a=3, b=2, c=1 -> top2 = a,b
      Seq("a", "a", "a", "b", "b", "c").zipWithIndex
        .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      def state(): Seq[(String, Long)] = spark.read.parquet(s"$dir/snk")
        .as[(String, Long)].collect().sortBy(r => (-r._2, r._1)).toSeq
      assert(state() == Seq(("a", 3L), ("b", 2L)))
      // arrival 2: c surges past both — the revision DISPLACES b (a row
      // of another key), which only whole-result materialization shows
      Seq("c", "c", "c", "c").zipWithIndex
        .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      assert(state() == Seq(("c", 5L), ("a", 3L)))
      assert(spark.read.parquet(s"$dir/snk").count() == 2)
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: a statement set starts per-INSERT queries with " +
      "independently inferred changelog modes") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // one APPEND insert (projection) + one UPDATING insert (aggregate)
    // over the same source, in one EXECUTE STATEMENT SET — each sink gets
    // the mode its own plan needs (the reference plans each sink's
    // ChangelogMode separately inside a StatementSet)
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k STRING, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE raw_snk (k STRING, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/raw',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck1');
         |CREATE TABLE agg_snk (k STRING, n BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/agg',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck2');
         |EXECUTE STATEMENT SET
         |BEGIN
         |  INSERT INTO raw_snk SELECT k, v FROM src WHERE v % 2 = 0;
         |  INSERT INTO agg_snk SELECT k, COUNT(*) AS n FROM src GROUP BY k;
         |END""".stripMargin)
    assert(qs.size == 2 && qs.forall(_.isActive))
    try {
      Seq(("a", 0L), ("a", 1L), ("b", 2L), ("b", 3L), ("b", 4L))
        .toDF("k", "v").write.mode("append").parquet(s"$dir/src")
      qs.foreach(_.processAllAvailable())
      // append face: the filtered rows accumulate
      assert(spark.read.parquet(s"$dir/raw").as[(String, Long)]
        .collect().toSet == Set(("a", 0L), ("b", 2L), ("b", 4L)))
      // update face: PK-keyed final state
      assert(graft.changelog.UpsertSink.readTable(spark, s"$dir/agg").as[(String, Long)]
        .collect().toMap == Map("a" -> 2L, "b" -> 3L))
      Seq(("a", 6L)).toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.foreach(_.processAllAvailable())
      assert(spark.read.parquet(s"$dir/raw").count() == 4)
      assert(graft.changelog.UpsertSink.readTable(spark, s"$dir/agg").as[(String, Long)]
        .collect().toMap == Map("a" -> 3L, "b" -> 3L))
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: HAVING over a streaming aggregate retracts keys " +
      "that exit the result (incremental MERGE+DELETE tier)") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // Plain Update mode can never retract a key that stops satisfying
    // the HAVING (Spark emits nothing for it; an upsert sink would keep
    // the stale row forever, where the reference emits -D). The runner
    // must detect the Filter above the streaming aggregate (review r17)
    // and — r18, VERDICT task 3 — materialize INCREMENTALLY: the filter
    // becomes a __keep flag on the Update-mode aggregate, exited keys
    // MERGE as deletes.
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k STRING, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE small_groups (k STRING, n BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO small_groups
         |SELECT k, COUNT(*) AS n FROM src GROUP BY k
         |HAVING COUNT(*) < 3""".stripMargin)
    try {
      Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      def state(): Map[String, Long] = graft.changelog.UpsertSink.readTable(spark, s"$dir/snk")
        .as[(String, Long)].collect().toMap
      assert(state() == Map("a" -> 2L, "b" -> 1L))
      // 'a' crosses the threshold: it must DISAPPEAR from the sink, not
      // linger at its stale pre-crossing count
      Seq(("a", 3L)).toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      assert(state() == Map("b" -> 1L),
        "a key that exits the HAVING must be retracted from the sink")
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: the ROW_NUMBER Top-N idiom over an UPDATING input " +
      "streams via the rank tier (complete child, per-batch rank)") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // the reference's documented streaming Top-N SQL (topn.md): rank over
    // an unwindowed aggregate — no Spark output mode accepts the window
    // function, so the statement must split at the rank boundary
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k STRING, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE lead_snk (k STRING, bucket BIGINT, n BIGINT, rn BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO lead_snk
         |SELECT k, bucket, n, rn FROM (
         |  SELECT k, bucket, n,
         |         ROW_NUMBER() OVER (PARTITION BY k
         |                            ORDER BY n DESC, bucket) AS rn
         |  FROM (SELECT k, v % 3 AS bucket, COUNT(*) AS n
         |        FROM src GROUP BY k, v % 3)
         |) WHERE rn <= 2""".stripMargin)
    assert(qs.size == 1 && qs.head.isActive)
    def state(): Set[(String, Long, Long, Long)] =
      spark.read.parquet(s"$dir/snk")
        .as[(String, Long, Long, Long)].collect().toSet
    try {
      // a: bucket0 x3, bucket1 x1; b: bucket2 x2
      Seq(("a", 0L), ("a", 3L), ("a", 6L), ("a", 1L), ("b", 2L), ("b", 5L))
        .toDF("k", "v").write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      assert(state() == Set(
        ("a", 0L, 3L, 1L), ("a", 1L, 1L, 2L), ("b", 2L, 2L, 1L)))
      // bucket1 of a overtakes bucket0 (4 > 3): ranks REORDER in place
      Seq(("a", 4L), ("a", 7L), ("a", 10L)).toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      assert(state() == Set(
        ("a", 1L, 4L, 1L), ("a", 0L, 3L, 2L), ("b", 2L, 2L, 1L)))
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: the Top-N idiom over an APPEND-ONLY input uses the " +
      "bounded candidate store (rows outside the bound never return)") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k STRING, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE top_vals (k STRING, v BIGINT, rn BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO top_vals
         |SELECT k, v, rn FROM (
         |  SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k
         |                                  ORDER BY v DESC) AS rn
         |  FROM src
         |) WHERE rn <= 2""".stripMargin)
    def state(): Set[(String, Long, Long)] =
      spark.read.parquet(s"$dir/snk")
        .as[(String, Long, Long)].collect().toSet
    try {
      Seq(("a", 10L), ("a", 5L), ("a", 1L), ("b", 7L)).toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      assert(state() == Set(("a", 10L, 1L), ("a", 5L, 2L), ("b", 7L, 1L)))
      // 8 displaces 5 for a; b gains a second entry
      Seq(("a", 8L), ("b", 3L)).toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      assert(state() == Set(("a", 10L, 1L), ("a", 8L, 2L),
        ("b", 7L, 1L), ("b", 3L, 2L)))
      // the candidate store holds AT MOST the rank bound per key — the
      // whole-stream history is never retained (the scale contract)
      val cand = spark.read.parquet(s"$dir/snk.rankstate")
        .as[(String, Long)].collect().toSeq
      assert(cand.groupBy(_._1).values.forall(_.size <= 2),
        s"candidate store exceeded the rank bound: $cand")
      assert(cand.toSet == Set(("a", 10L), ("a", 8L),
        ("b", 7L), ("b", 3L)))
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: an updating INSERT into a PK-less sink fails loudly") {
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    val e = intercept[IllegalArgumentException] {
      FlinkDdl.runStreaming(spark,
        s"""CREATE TABLE src (k STRING, v BIGINT)
           |  WITH ('connector'='filesystem', 'path'='$dir/src',
           |        'format'='parquet');
           |CREATE TABLE snk (k STRING, n BIGINT)
           |  WITH ('connector'='filesystem', 'path'='$dir/snk',
           |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
           |INSERT INTO snk SELECT k, COUNT(*) AS n FROM src GROUP BY k
           |""".stripMargin)
    }
    assert(e.getMessage.contains("PRIMARY KEY") &&
      e.getMessage.contains("update"))
  }

  test("STOP JOB WITH SAVEPOINT WITH DRAIN snapshots the checkpoint") {
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // seed BEFORE the script so DRAIN has data to flush at stop time
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .limit(100).write.mode("append").parquet(s"$dir/src")
    val qs = FlinkDdl.runStreaming(spark,
      s"""SET 'execution.checkpointing.savepoint-dir' = '$dir/sp';
         |CREATE TABLE src (
         |  event_id BIGINT, user_id BIGINT, value DOUBLE
         |) WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE snk (event_id BIGINT, v DOUBLE)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO snk SELECT event_id, value AS v FROM src;
         |STOP JOB 'insert-into_snk' WITH SAVEPOINT WITH DRAIN
         |""".stripMargin)
    assert(qs.size == 1 && !qs.head.isActive)
    // drained: the seeded rows reached the sink before the stop
    assert(spark.read.parquet(s"$dir/snk").count() == 100)
    // the savepoint is a full checkpoint copy (offsets + commits)
    val sps = new java.io.File(s"$dir/sp").listFiles()
    assert(sps != null && sps.length == 1 &&
      sps.head.getName.startsWith("savepoint-"))
    val entries = sps.head.listFiles().map(_.getName).toSet
    assert(entries.contains("offsets") && entries.contains("commits"))
  }

  test("runStreaming: datagen connector streams via the rate source") {
    import spark.implicits._
    val dir = tmpDir()
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE gen (id BIGINT, grp BIGINT) WITH (
         |  'connector'='datagen', 'rows-per-second'='500',
         |  'fields.id.kind'='sequence', 'fields.id.start'='100',
         |  'fields.grp.kind'='random', 'fields.grp.min'='0',
         |  'fields.grp.max'='4');
         |CREATE TABLE snk (id BIGINT, grp BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO snk SELECT id, grp FROM gen""".stripMargin)
    try {
      // rate-source rows accrue with wall time — poll until some land
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var n = 0L
      while (n == 0 && System.nanoTime() < deadline) {
        Thread.sleep(500)
        qs.head.processAllAvailable()
        n = scala.util.Try(spark.read.parquet(s"$dir/snk").count())
          .getOrElse(0L)
      }
      assert(n > 0, "datagen stream must produce rows")
      val rows = spark.read.parquet(s"$dir/snk")
        .as[(Long, Long)].collect().sortBy(_._1)
      // deterministic generators over the sequence: ids start at 100 and
      // are consecutive; grp is the seeded hash, within bounds
      assert(rows.head._1 == 100L &&
        rows.map(_._1).toSeq == (100L until 100L + rows.length).toSeq,
        s"sequence field must be consecutive from start: ${rows.take(5).toSeq}")
      assert(rows.forall(r => r._2 >= 0 && r._2 <= 4))
    } finally qs.foreach(_.stop())
  }

  test("runStreaming rejects batch-only statements") {
    val dir = tmpDir()
    intercept[IllegalArgumentException] {
      FlinkDdl.runStreaming(spark,
        s"""CREATE TABLE snk (k BIGINT) WITH ('connector'='filesystem',
           |  'path'='$dir/x', 'format'='parquet');
           |INSERT OVERWRITE snk SELECT 1 AS k""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      FlinkDdl.runStreaming(spark,
        s"""CREATE TABLE c WITH ('connector'='filesystem',
           |  'path'='$dir/y', 'format'='parquet') AS SELECT 1 AS k""".stripMargin)
    }
  }

  test("ALTER TABLE SET / RENAME TO and INSERT INTO VALUES") {
    val dir = tmpDir()
    val res = FlinkDdl.runScript(spark,
      s"""CREATE TABLE t1 (k BIGINT, v STRING) WITH (
         |  'connector'='filesystem', 'path'='$dir/a', 'format'='parquet');
         |ALTER TABLE t1 SET ('path'='$dir/b', 'custom'='x');
         |ALTER TABLE t1 RENAME TO t2;
         |INSERT INTO t2 VALUES (1, 'one'), (2, 'two');
         |SELECT k, v FROM t2 ORDER BY k""".stripMargin)
    assert(!res.catalog.contains("t1") &&
      res.catalog("t2").options("path") == s"$dir/b" &&
      res.catalog("t2").options("custom") == "x")
    val rows = res.dataFrame.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "one"), (2L, "two")), s"${rows.toSeq}")
    // the VALUES write landed under the ALTERed path
    assert(new java.io.File(s"$dir/b").isDirectory &&
      !new java.io.File(s"$dir/a").exists())
  }

  test("named-argument window TVF calls and global SESSION") {
    val ev = Tables.events(spark, sf)
    // named-parameter call form == positional form
    val named = FlinkSql.sql(spark,
      """SELECT window_start, COUNT(*) AS n
        |FROM TABLE(TUMBLE(DATA => TABLE events,
        |                  TIMECOL => DESCRIPTOR(ts_ns),
        |                  SIZE => INTERVAL '10' MINUTE))
        |GROUP BY window_start ORDER BY window_start""".stripMargin,
      Map("events" -> ev))
    val positional = FlinkSql.sql(spark,
      """SELECT window_start, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts_ns),
        |                  INTERVAL '10' MINUTE))
        |GROUP BY window_start ORDER BY window_start""".stripMargin,
      Map("events" -> ev))
    assert(named.collect().toSeq == positional.collect().toSeq)
    // SESSION without PARTITION BY = one global island chain
    val global = FlinkSql.sql(spark,
      """SELECT window_start, COUNT(*) AS n
        |FROM TABLE(SESSION(TABLE events, DESCRIPTOR(ts_ns),
        |                   INTERVAL '30' SECOND))
        |GROUP BY window_start ORDER BY window_start""".stripMargin,
      Map("events" -> ev))
    val gRows = global.collect()
    assert(gRows.nonEmpty && !global.columns.contains("__graft_gk"))
    assert(gRows.map(_.getLong(1)).sum == ev.count(),
      "global sessions must cover every row exactly once")
  }

  test("fractional watermark intervals, ANALYZE/USE, CREATE FUNCTION unknown class") {
    val res = FlinkDdl.runScript(spark,
      s"""USE CATALOG default_catalog;
         |CREATE TABLE ev (
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '0.25' SECOND
         |) WITH ('connector'='filesystem', 'path'='$sf/events.parquet',
         |        'format'='parquet');
         |ANALYZE TABLE ev COMPUTE STATISTICS""".stripMargin)
    assert(res.catalog("ev").watermark
      .contains(FlinkDdl.WatermarkSpec("ts", "250 milliseconds")))
    // CREATE FUNCTION now loads JVM classes (JvmFunctionSpec); a class
    // that doesn't resolve still errors clearly
    val e = intercept[IllegalArgumentException] {
      FlinkDdl.runScript(spark,
        "CREATE TEMPORARY FUNCTION f AS 'com.example.MyUdf'")
    }
    assert(e.getMessage.contains("not found"))
  }

  test("row-level UPDATE / DELETE / TRUNCATE script statements") {
    val dir = tmpDir()
    val setup =
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='100', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE t (k BIGINT, v BIGINT, tag STRING)
         |  PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/t',
         |        'format'='parquet');
         |INSERT INTO t SELECT k, k * 10 AS v,
         |  CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END AS tag
         |FROM src;""".stripMargin
    // UPDATE with predicate: only matching rows change
    val upd = FlinkDdl.run(spark,
      s"""$setup
         |UPDATE t SET v = v + 1 WHERE k < 10;
         |SELECT SUM(v) AS sv, COUNT(*) AS n FROM t""".stripMargin)
      .collect().head
    // base sum = 10*(0+..+99) = 49500; +1 on the 10 rows with k<10
    assert((upd.getLong(0), upd.getLong(1)) == ((49510L, 100L)), s"$upd")
    // partition-only DELETE takes the partition-drop fast path
    val del = FlinkDdl.run(spark,
      s"""CREATE TABLE t (k BIGINT, v BIGINT, tag STRING)
         |  PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/t',
         |        'format'='parquet');
         |DELETE FROM t WHERE tag = 'odd';
         |SELECT COUNT(*) AS n FROM t""".stripMargin)
      .collect().head
    assert(del.getLong(0) == 50L, s"$del")
    assert(!new java.io.File(s"$dir/t/tag=odd").exists() &&
      new java.io.File(s"$dir/t/tag=even").isDirectory,
      "partition-only DELETE must drop the directory, keep the other")
    // row-level DELETE rewrites; TRUNCATE empties
    val after = FlinkDdl.run(spark,
      s"""CREATE TABLE t (k BIGINT, v BIGINT, tag STRING)
         |  PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/t',
         |        'format'='parquet');
         |DELETE FROM t WHERE k >= 50;
         |SELECT COUNT(*) AS n, MAX(k) AS mx FROM t""".stripMargin)
      .collect().head
    assert((after.getLong(0), after.getLong(1)) == ((25L, 48L)), s"$after")
    FlinkDdl.runScript(spark,
      s"""CREATE TABLE t (k BIGINT, v BIGINT, tag STRING)
         |  WITH ('connector'='filesystem', 'path'='$dir/t',
         |        'format'='parquet');
         |TRUNCATE TABLE t""".stripMargin)
    assert(!new java.io.File(s"$dir/t").exists())
  }

  test("SHOW TABLES / DESCRIBE / EXPLAIN script statements") {
    val ddl =
      s"""CREATE TABLE ev (
         |  event_id BIGINT,
         |  user_id BIGINT,
         |  value DOUBLE,
         |  ts TIMESTAMP(6),
         |  ts_ltz AS TO_TIMESTAMP_LTZ(UNIX_TIMESTAMP(ts), 0),
         |  WATERMARK FOR ts_ltz AS ts_ltz - INTERVAL '5' SECOND,
         |  PRIMARY KEY (event_id) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$sf/events.parquet',
         |        'format'='parquet');
         |CREATE TABLE other (k INT) WITH ('connector'='blackhole');""".stripMargin
    val shown = FlinkDdl.run(spark, s"$ddl\nSHOW TABLES")
      .collect().map(_.getString(0)).toSeq
    assert(shown == Seq("ev", "other"), s"$shown")
    val desc = FlinkDdl.run(spark, s"$ddl\nDESCRIBE ev").collect()
    assert(desc.length == 5)
    val byName = desc.map(r => r.getString(0) -> r).toMap
    assert(byName("event_id").getString(1) == "BIGINT" &&
      byName("event_id").getString(3) != null) // key column
    assert(byName("ts_ltz").getString(1) == "COMPUTED" &&
      byName("ts_ltz").getString(5) != null) // watermark column
    val plan = FlinkDdl.run(spark,
      s"$ddl\nEXPLAIN SELECT user_id, COUNT(*) AS n FROM ev GROUP BY user_id")
      .collect().head.getString(0)
    assert(plan.contains("Physical Plan"), s"plan text: $plan")
  }

  test("CREATE MATERIALIZED TABLE: schema shaping, catalog metadata, " +
      "and reads like a table") {
    val res = FlinkDdl.runScript(spark,
      s"""CREATE TABLE ev (event_id BIGINT, user_id BIGINT, value DOUBLE,
         |  event_type STRING) WITH ('connector'='filesystem',
         |  'path'='$sf/events.parquet', 'format'='parquet');
         |CREATE MATERIALIZED TABLE by_type (etype, n BIGINT, sv)
         |  FRESHNESS = INTERVAL '1' HOUR
         |  REFRESH_MODE = FULL
         |  AS SELECT event_type, COUNT(*) AS cnt, SUM(value) AS s
         |     FROM ev GROUP BY event_type;
         |SELECT etype, n, sv FROM by_type ORDER BY etype""".stripMargin)
    val spec = res.catalog("by_type")
    assert(spec.options(FlinkDdl.MtModeOpt) == "full")
    assert(spec.options(FlinkDdl.MtFreshnessOpt) == "1 hours")
    assert(spec.options(FlinkDdl.MtStatusOpt) == "active")
    assert(spec.options.contains(FlinkDdl.MtQueryOpt))
    // bare identifiers rename positionally; typed columns also cast
    assert(spec.columns.map(_.name) == Seq("etype", "n", "sv"))
    val rows = res.dataFrame.collect()
    val expect = Tables.events(spark, sf).groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet == expect.keySet)
    rows.foreach(r => assert(r.getLong(1) == expect(r.getString(0))))
    // freshness inference: under the 30-minute threshold → continuous
    val inferred = FlinkDdl.runScript(spark,
      s"""CREATE TABLE ev (event_id BIGINT) WITH (
         |  'connector'='filesystem', 'path'='$sf/events.parquet',
         |  'format'='parquet');
         |CREATE MATERIALIZED TABLE fast
         |  FRESHNESS = INTERVAL '30' SECOND
         |  AS SELECT COUNT(*) AS n FROM ev""".stripMargin)
    assert(inferred.catalog("fast").options(FlinkDdl.MtModeOpt) == "continuous")
  }

  test("ALTER MATERIALIZED TABLE REFRESH recomputes; SUSPEND/RESUME " +
      "track status; DROP removes") {
    val dir = tmpDir()
    val r = FlinkDdl.run(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='50', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE base (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/base', 'format'='parquet');
         |INSERT INTO base SELECT k FROM src;
         |CREATE MATERIALIZED TABLE stats REFRESH_MODE = FULL
         |  AS SELECT COUNT(*) AS n, SUM(k) AS sk FROM base;
         |INSERT INTO base SELECT k + 100 AS k FROM src;
         |ALTER MATERIALIZED TABLE stats REFRESH;
         |SELECT n, sk FROM stats""".stripMargin).collect().head
    assert(r.getLong(0) == 100, s"refresh must see both inserts: $r")
    // without the REFRESH the materialization is the create-time snapshot
    val stale = FlinkDdl.run(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='50', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE base (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/base2', 'format'='parquet');
         |INSERT INTO base SELECT k FROM src;
         |CREATE MATERIALIZED TABLE stats REFRESH_MODE = FULL
         |  AS SELECT COUNT(*) AS n FROM base;
         |INSERT INTO base SELECT k + 100 AS k FROM src;
         |SELECT n FROM stats""".stripMargin).collect().head
    assert(stale.getLong(0) == 50, s"snapshot must be create-time: $stale")
    val lifecycle = FlinkDdl.runScript(spark,
      s"""CREATE TABLE base (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/base', 'format'='parquet');
         |CREATE MATERIALIZED TABLE s1 REFRESH_MODE = FULL
         |  AS SELECT COUNT(*) AS n FROM base;
         |CREATE MATERIALIZED TABLE s2 REFRESH_MODE = FULL
         |  AS SELECT SUM(k) AS sk FROM base;
         |ALTER MATERIALIZED TABLE s1 SUSPEND;
         |DROP MATERIALIZED TABLE s2""".stripMargin)
    assert(lifecycle.catalog("s1").options(FlinkDdl.MtStatusOpt) == "suspended")
    assert(!lifecycle.catalog.contains("s2"))
  }

  test("ALTER MATERIALIZED TABLE REFRESH PARTITION swaps only the " +
      "matching partition") {
    val dir = tmpDir()
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='40', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE base (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/base', 'format'='parquet');
         |INSERT INTO base SELECT k FROM src;
         |CREATE MATERIALIZED TABLE pm PARTITIONED BY (tag)
         |  REFRESH_MODE = FULL
         |  AS SELECT k, CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END AS tag
         |     FROM base;
         |INSERT INTO base SELECT k + 1000 AS k FROM src;
         |ALTER MATERIALIZED TABLE pm REFRESH PARTITION (tag = 'even');
         |SELECT tag, COUNT(*) AS n FROM pm GROUP BY tag ORDER BY tag
         |""".stripMargin).collect()
    val byTag = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTag("even") == 40, s"even partition refreshed: $byTag")
    assert(byTag("odd") == 20, s"odd partition untouched: $byTag")
  }

  test("runStreaming: a materialized table refreshes continuously; " +
      "SUSPEND stops its job") {
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (event_id BIGINT, value DOUBLE) WITH (
         |  'connector'='filesystem', 'path'='$dir/src',
         |  'format'='parquet');
         |CREATE MATERIALIZED TABLE doubled
         |  WITH ('path'='$dir/mt', 'sink.checkpoint-dir'='$dir/ck')
         |  FRESHNESS = INTERVAL '10' SECOND
         |  AS SELECT event_id, value * 2 AS big FROM src""".stripMargin)
    assert(qs.size == 1 && qs.head.isActive)
    try {
      Tables.events(spark, sf).select(col("event_id"), col("value"))
        .limit(200).write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      val got = spark.read.parquet(s"$dir/mt")
      assert(got.count() == 200)
      assert(got.columns.toSeq == Seq("event_id", "big"))
    } finally qs.foreach(_.stop())
  }

  test("SHOW CREATE TABLE reconstructs runnable DDL; SET applies " +
      "spark-namespaced keys") {
    val ddl =
      s"""CREATE TABLE ev (
         |  event_id BIGINT,
         |  ts TIMESTAMP(6),
         |  doubled AS event_id * 2,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
         |  PRIMARY KEY (event_id) NOT ENFORCED
         |) PARTITIONED BY (event_id)
         |  WITH ('connector'='filesystem', 'path'='$sf/events.parquet',
         |        'format'='parquet')""".stripMargin
    val shown = FlinkDdl.run(spark, s"$ddl;\nSHOW CREATE TABLE ev")
      .collect().head.getString(0)
    assert(shown.contains("CREATE TABLE `ev`"), shown)
    assert(shown.contains("`event_id` BIGINT"), shown)
    assert(shown.contains("`doubled` AS event_id * 2"), shown)
    assert(shown.contains("WATERMARK FOR `ts`"), shown)
    assert(shown.contains("PRIMARY KEY (`event_id`) NOT ENFORCED"), shown)
    assert(shown.contains("PARTITIONED BY (`event_id`)"), shown)
    assert(shown.contains("'connector' = 'filesystem'"), shown)
    // the reconstructed DDL round-trips through the runner
    val again = FlinkDdl.run(spark,
      s"$shown;\nSELECT COUNT(*) AS n, MAX(doubled) AS d FROM ev")
      .collect().head
    assert(again.getLong(0) > 0 && again.getLong(1) > 0)
    // SET with a spark.* key reaches the session conf; RESET restores
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      FlinkDdl.run(spark,
        s"""SET 'spark.sql.shuffle.partitions' = '7';
           |SET 'table.exec.mini-batch.enabled' = 'true';
           |$ddl;
           |SELECT COUNT(*) AS n FROM ev""".stripMargin).collect()
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("CREATE OR ALTER MATERIALIZED TABLE redefines in place; " +
      "CREATE OR REPLACE TABLE AS overwrites") {
    val dir = tmpDir()
    val res = FlinkDdl.runScript(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='30', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE base (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/base', 'format'='parquet');
         |INSERT INTO base SELECT k FROM src;
         |CREATE MATERIALIZED TABLE m REFRESH_MODE = FULL
         |  AS SELECT COUNT(*) AS n FROM base;
         |CREATE OR ALTER MATERIALIZED TABLE m REFRESH_MODE = FULL
         |  AS SELECT COUNT(*) AS n, SUM(k) AS sk FROM base;
         |SELECT n, sk FROM m""".stripMargin)
    val r = res.dataFrame.collect().head
    assert(r.getLong(0) == 30 && r.getLong(1) == 435, s"$r")
    // managed storage kept its identity across the redefinition
    assert(res.catalog("m").options.contains(FlinkDdl.MtManagedOpt))
    val rep = FlinkDdl.run(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='10', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE OR REPLACE TABLE t WITH ('connector'='filesystem',
         |  'path'='$dir/t', 'format'='parquet')
         |  AS SELECT k, k * k AS sq FROM src;
         |CREATE OR REPLACE TABLE t WITH ('connector'='filesystem',
         |  'path'='$dir/t', 'format'='parquet')
         |  AS SELECT k, k * k * k AS cube FROM src;
         |SELECT SUM(cube) AS sc FROM t""".stripMargin).collect().head
    assert(rep.getLong(0) == (0 until 10).map(k => k.toLong * k * k).sum)
  }

  test("CREATE MODEL DDL binds ML_PREDICT to the DESCRIPTOR column") {
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE docs (doc_id BIGINT, n_chars BIGINT) WITH (
         |  'connector'='filesystem', 'path'='$sf/documents.parquet',
         |  'format'='parquet');
         |CREATE MODEL scorer
         |  INPUT (n_chars BIGINT)
         |  OUTPUT (score DOUBLE, pred_label STRING)
         |  COMMENT 'deterministic scorer'
         |  WITH ('provider' = 'hash-score');
         |SELECT doc_id, score, pred_label
         |FROM ML_PREDICT(TABLE docs, MODEL scorer, DESCRIPTOR(n_chars))
         |ORDER BY doc_id""".stripMargin).collect()
    assert(out.nonEmpty)
    val chars = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.take(20).foreach { r =>
      val expect =
        ((chars(r.getLong(0)) * 2654435761L) % 1000L).toDouble / 1000.0
      assert(r.getDouble(1) == expect, s"row $r")
      assert(r.getString(2) == (if (expect >= 0.5) "high" else "low"))
    }
  }

  test("model catalog statements: SHOW / ALTER / DROP MODEL") {
    val ddl =
      """CREATE MODEL m1 WITH ('provider'='hash-score');
        |CREATE MODEL m2 WITH ('provider'='openai',
        |  'endpoint'='http://localhost:1/v1/embeddings',
        |  'model'='e', 'api-key'='k');""".stripMargin
    val shown = FlinkDdl.run(spark, s"$ddl\nSHOW MODELS")
      .collect().map(_.getString(0)).toSeq
    assert(shown == Seq("m1", "m2"), s"$shown")
    val res = FlinkDdl.runScript(spark,
      s"""$ddl
         |ALTER MODEL m2 SET ('model'='e2');
         |ALTER MODEL m2 RESET ('api-key');
         |ALTER MODEL m1 RENAME TO scorer;
         |DROP MODEL m2""".stripMargin)
    assert(res.models.keySet == Set("scorer"))
    assert(res.models("scorer").provider == "hash-score")
    // the INPUT/OUTPUT pair must come together (SqlCreateModel.validate)
    val e = intercept[IllegalArgumentException] {
      FlinkDdl.runScript(spark,
        "CREATE MODEL bad INPUT (x BIGINT) WITH ('provider'='hash-score')")
    }
    assert(e.getMessage.contains("INPUT and OUTPUT"))
  }

  test("CREATE TABLE LIKE merges base spec per clause") {
    val res = FlinkDdl.runScript(spark,
      s"""CREATE TABLE base (k BIGINT, v DOUBLE,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='/tmp/p1',
         |        'format'='parquet');
         |CREATE TABLE derived (extra STRING)
         |  WITH ('path'='/tmp/p2')
         |  LIKE base (EXCLUDING CONSTRAINTS)""".stripMargin)
    val d = res.catalog("derived")
    assert(d.columns.map(_.name) == Seq("k", "v", "extra"), s"${d.columns}")
    assert(d.options("connector") == "filesystem" &&
      d.options("path") == "/tmp/p2" && d.primaryKey.isEmpty)
    // EXCLUDING ALL keeps only the child's own declaration
    val res2 = FlinkDdl.runScript(spark,
      s"""CREATE TABLE base (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='/tmp/p1', 'format'='parquet');
         |CREATE TABLE solo (x INT) WITH ('connector'='blackhole')
         |  LIKE base (EXCLUDING ALL)""".stripMargin)
    val s = res2.catalog("solo")
    assert(s.columns.map(_.name) == Seq("x") && s.options.size == 1)
  }

  test("temporal join inside a subquery rewrites its own block's aliases") {
    val e = Tables.events(spark, sf)
    val purchases = graft.operators.Dedup.keepFirst(
      e.where(col("event_type") === "purchase"),
      Seq(col("user_id"), col("ts_us")), Seq(col("event_id")))
    val out = FlinkSql.sql(spark,
      """SELECT event_id, v FROM (
        |  SELECT c.event_id AS event_id, p.value AS v
        |  FROM clicks AS c
        |  JOIN purchases FOR SYSTEM_TIME AS OF c.ts_us AS p
        |    ON c.user_id = p.user_id
        |) WHERE v IS NOT NULL ORDER BY event_id""".stripMargin,
      Map("clicks" -> e.where(col("event_type") === "click"),
        "purchases" -> purchases))
    assert(out.count() > 0)
  }

  test("DISTRIBUTED BY buckets the sink write; SHOW CREATE round-trips") {
    val dir = tmpDir()
    // HASH(k) INTO 4 BUCKETS: one file per bucket, co-located keys
    FlinkDdl.run(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='100', 'fields.k.kind'='sequence',
         |  'fields.k.start'='0');
         |CREATE TABLE sink (k BIGINT, v BIGINT)
         |  DISTRIBUTED BY HASH(k) INTO 4 BUCKETS
         |  WITH ('connector'='filesystem', 'path'='$dir/sink',
         |        'format'='parquet');
         |INSERT INTO sink SELECT k, k * 2 AS v FROM src;
         |SELECT COUNT(*) AS n FROM sink""".stripMargin)
    val files = new java.io.File(s"$dir/sink").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 bucket files, got ${files.length}")
    // the same key always lands in the same bucket file
    val byFile = files.map(f => spark.read.parquet(f.getPath)
      .select("k").collect().map(_.getLong(0)).toSet)
    assert(byFile.map(_.size).sum == 100, "buckets must partition the keys")
    // bare DISTRIBUTED INTO n BUCKETS round-robins into n files
    FlinkDdl.run(spark,
      s"""CREATE TABLE sink2 (k BIGINT)
         |  DISTRIBUTED INTO 3 BUCKETS
         |  WITH ('connector'='filesystem', 'path'='$dir/sink2',
         |        'format'='parquet');
         |INSERT INTO sink2 SELECT k FROM g_src;""".stripMargin,
      Map("g_src" -> spark.range(30).toDF("k")))
    assert(new java.io.File(s"$dir/sink2").listFiles()
      .count(_.getName.endsWith(".parquet")) == 3)
    // SHOW CREATE TABLE reconstructs the clause, and the text re-parses
    val shown = FlinkDdl.run(spark,
      s"""CREATE TABLE sink (k BIGINT, v BIGINT)
         |  DISTRIBUTED BY HASH(k) INTO 4 BUCKETS
         |  WITH ('connector'='filesystem', 'path'='$dir/sink',
         |        'format'='parquet');
         |SHOW CREATE TABLE sink""".stripMargin)
      .collect().head.getString(0)
    assert(shown.contains("DISTRIBUTED BY HASH(`k`) INTO 4 BUCKETS"), shown)
    val back = FlinkDdl.runScript(spark, shown)
    assert(back.catalog("sink").options("distribution-buckets") == "4")
    assert(back.catalog("sink").options("distribution-keys") == "k")
    // RANGE kind range-partitions: bucket key ranges must not overlap
    FlinkDdl.run(spark,
      s"""CREATE TABLE sink3 (k BIGINT)
         |  DISTRIBUTED BY RANGE(k) INTO 4 BUCKETS
         |  WITH ('connector'='filesystem', 'path'='$dir/sink3',
         |        'format'='parquet');
         |INSERT INTO sink3 SELECT k FROM g_src;""".stripMargin,
      Map("g_src" -> spark.range(100).toDF("k")))
    val ranges = new java.io.File(s"$dir/sink3").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val ks = spark.read.parquet(f.getPath).collect().map(_.getLong(0))
        (ks.min, ks.max)
      }.sortBy(_._1)
    assert(ranges.length == 4)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"range buckets overlap: $ranges")
    }
  }

  test("catalog and database DDL: registries, USE scoping, flat namespace") {
    val dir = tmpDir()
    // SHOW CATALOGS reflects CREATE CATALOG; USE switches the default
    val cats = FlinkDdl.run(spark,
      """CREATE CATALOG c2 WITH ('type'='generic_in_memory');
        |SHOW CATALOGS""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(cats == Seq("c2", "default_catalog"))
    // databases are per catalog; SHOW TABLES is scoped to the db in use
    val tabs = FlinkDdl.run(spark,
      s"""CREATE DATABASE marts;
         |CREATE TABLE t_default (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='1');
         |USE marts;
         |CREATE TABLE t_marts (k BIGINT) WITH ('connector'='datagen',
         |  'number-of-rows'='1');
         |SHOW TABLES""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(tabs == Seq("t_marts"), s"scoped to marts: $tabs")
    // SHOW CURRENT DATABASE tracks USE
    val cur = FlinkDdl.run(spark,
      """CREATE DATABASE marts; USE marts;
        |SHOW CURRENT DATABASE""".stripMargin)
      .collect().head.getString(0)
    assert(cur == "marts")
    // one flat physical namespace: the same table name in a second
    // database is rejected, not shadowed
    val e = intercept[IllegalArgumentException](FlinkDdl.run(spark,
      """CREATE DATABASE a; CREATE DATABASE b;
        |USE a; CREATE TABLE t (k BIGINT) WITH ('connector'='datagen');
        |USE b; CREATE TABLE t (k BIGINT) WITH ('connector'='datagen');
        |SHOW TABLES""".stripMargin))
    assert(e.getMessage.contains("flat table namespace"))
    // USE of an unknown database/catalog fails; dropping the db in use fails
    intercept[IllegalArgumentException](
      FlinkDdl.run(spark, "USE nope; SHOW TABLES"))
    intercept[IllegalArgumentException](
      FlinkDdl.run(spark, "USE CATALOG nope; SHOW TABLES"))
    intercept[IllegalArgumentException](FlinkDdl.run(spark,
      "CREATE DATABASE d1; USE d1; DROP DATABASE d1; SHOW TABLES"))
  }

  test("CREATE CONNECTION + USING CONNECTION merges options, WITH wins") {
    val dir = tmpDir()
    spark.range(5).toDF("k").write.mode("overwrite").parquet(s"$dir/t")
    // the connection carries the connector/format; the table adds path
    val out = FlinkDdl.run(spark,
      s"""CREATE CONNECTION pq WITH ('connector'='filesystem',
         |  'format'='parquet');
         |CREATE TABLE t (k BIGINT) USING CONNECTION pq
         |  WITH ('path'='$dir/t');
         |SELECT COUNT(*) AS n FROM t""".stripMargin)
    assert(out.collect().head.getLong(0) == 5)
    // a model picks its provider options up from the connection
    val m = FlinkDdl.run(spark,
      """CREATE CONNECTION scorer_conn WITH ('provider'='hash-score');
        |CREATE MODEL scorer INPUT (k BIGINT)
        |  OUTPUT (score DOUBLE, pred_label STRING)
        |  USING CONNECTION scorer_conn WITH ('note'='x');
        |SELECT k, score FROM ML_PREDICT(TABLE src, MODEL scorer,
        |  DESCRIPTOR(k)) ORDER BY k""".stripMargin,
      Map("src" -> spark.range(4).toDF("k")))
    assert(m.collect().length == 4)
    // ALTER CONNECTION SET/RESET/RENAME manage the registry
    val shown = FlinkDdl.run(spark,
      """CREATE CONNECTION c1 WITH ('a'='1');
        |ALTER CONNECTION c1 SET ('b'='2');
        |ALTER CONNECTION c1 RESET ('a');
        |ALTER CONNECTION c1 RENAME TO c9;
        |SHOW CONNECTIONS""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(shown == Seq("c9"))
    // an unknown connection fails at CREATE TABLE time
    val e = intercept[IllegalArgumentException](FlinkDdl.run(spark,
      "CREATE TABLE x (k BIGINT) USING CONNECTION missing WITH ('a'='1');" +
        "SHOW TABLES"))
    assert(e.getMessage.contains("unknown connection"))
  }

  test("STOP JOB stops a streaming insert by name; batch SHOW JOBS empty") {
    val dir = tmpDir()
    spark.range(10).select(col("id").as("k"))
      .write.mode("overwrite").parquet(s"$dir/in")
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/in', 'format'='parquet');
         |CREATE TABLE snk (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/out', 'format'='parquet');
         |INSERT INTO snk SELECT k FROM src;
         |STOP JOB 'insert-into_snk'""".stripMargin)
    assert(qs.length == 1)
    assert(!qs.head.isActive, "STOP JOB must stop the named insert job")
    // unknown job id errors and lists what runs
    intercept[IllegalArgumentException](FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/in', 'format'='parquet');
         |STOP JOB 'nope'""".stripMargin))
    // batch runner: SHOW JOBS is empty, STOP JOB is an error
    val jobs = FlinkDdl.run(spark, "SHOW JOBS")
    assert(jobs.columns.toSeq ==
      Seq("job id", "job name", "status") && jobs.count() == 0)
    intercept[IllegalArgumentException](
      FlinkDdl.run(spark, "STOP JOB 'x'"))
  }

  test("ALTER TABLE ADD / DROP PARTITION against the hive-style layout") {
    val dir = tmpDir()
    FlinkDdl.run(spark,
      s"""CREATE TABLE snk (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/p',
         |        'format'='parquet');
         |INSERT INTO snk SELECT k,
         |  CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END AS tag FROM g;
         |ALTER TABLE snk DROP PARTITION (tag='odd');
         |SELECT COUNT(*) AS n FROM snk""".stripMargin,
      Map("g" -> spark.range(10).toDF("k")))
      .collect().head.getLong(0) match {
        case n => assert(n == 5, s"odd partition must be gone, got $n rows")
      }
    assert(!new java.io.File(s"$dir/p/tag=odd").exists())
    // ADD PARTITION registers (creates) the directory
    FlinkDdl.run(spark,
      s"""CREATE TABLE snk (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/p',
         |        'format'='parquet');
         |ALTER TABLE snk ADD PARTITION (tag='new');
         |SHOW TABLES""".stripMargin)
    assert(new java.io.File(s"$dir/p/tag=new").isDirectory)
    // a non-partition column is rejected
    val e = intercept[IllegalArgumentException](FlinkDdl.run(spark,
      s"""CREATE TABLE snk (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/p',
         |        'format'='parquet');
         |ALTER TABLE snk DROP PARTITION (k='1')""".stripMargin))
    assert(e.getMessage.contains("not a partition column"))
  }

  test("static-partition INSERT and SHOW PARTITIONS") {
    val dir = tmpDir()
    // INSERT … PARTITION (k=v) appends the constant; OVERWRITE with a
    // static partition replaces ONLY that partition
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE snk (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/p',
         |        'format'='parquet');
         |INSERT INTO snk PARTITION (tag='a') SELECT k FROM g;
         |INSERT INTO snk PARTITION (tag='b') SELECT k FROM g;
         |INSERT OVERWRITE snk PARTITION (tag='a')
         |  SELECT k FROM g WHERE k < 2;
         |SELECT tag, COUNT(*) AS n FROM snk GROUP BY tag ORDER BY tag
         |""".stripMargin,
      Map("g" -> spark.range(10).toDF("k")))
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("a" -> 2L, "b" -> 10L),
      s"overwrite must only replace partition a: $got")
    // SHOW PARTITIONS lists the hive-style specs on disk
    val parts = FlinkDdl.run(spark,
      s"""CREATE TABLE snk (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/p',
         |        'format'='parquet');
         |SHOW PARTITIONS snk""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(parts == Seq("tag=a", "tag=b"), s"$parts")
    // PARTITION on a non-partitioned sink is rejected
    val e = intercept[IllegalArgumentException](FlinkDdl.run(spark,
      s"""CREATE TABLE flat (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/f', 'format'='parquet');
         |INSERT INTO flat PARTITION (tag='x') SELECT k FROM g
         |""".stripMargin,
      Map("g" -> spark.range(3).toDF("k"))))
    assert(e.getMessage.contains("not partitioned"))
  }

  test("SHOW ... LIKE filters, SHOW COLUMNS, and rich DESCRIBE forms") {
    val likes = FlinkDdl.run(spark,
      """CREATE TABLE t_orders (k BIGINT) WITH ('connector'='datagen');
        |CREATE TABLE t_lines (k BIGINT) WITH ('connector'='datagen');
        |CREATE TABLE other (k BIGINT) WITH ('connector'='datagen');
        |SHOW TABLES LIKE 't!_%'""".stripMargin
        .replace("!_", "_")) // literal underscore matches t_* here
      .collect().map(_.getString(0)).toSeq
    assert(likes == Seq("other", "t_lines", "t_orders") ||
      likes == Seq("t_lines", "t_orders"),
      s"LIKE 't_%' filter: $likes")
    val notLikes = FlinkDdl.run(spark,
      """CREATE TABLE t_orders (k BIGINT) WITH ('connector'='datagen');
        |CREATE TABLE other (k BIGINT) WITH ('connector'='datagen');
        |SHOW TABLES NOT LIKE 't%'""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(notLikes == Seq("other"), s"$notLikes")
    // SHOW COLUMNS FROM t with a filter; six-column DESCRIBE shape
    val cols = FlinkDdl.run(spark,
      """CREATE TABLE t (user_id BIGINT, user_name STRING, amount DOUBLE)
        |  WITH ('connector'='datagen');
        |SHOW COLUMNS FROM t LIKE 'user%'""".stripMargin)
    assert(cols.columns.toSeq ==
      Seq("name", "type", "null", "key", "extras", "watermark"))
    assert(cols.collect().map(_.getString(0)).toSeq ==
      Seq("user_id", "user_name"))
    // DESCRIBE MODEL lists IO columns with roles
    val dm = FlinkDdl.run(spark,
      """CREATE MODEL m INPUT (txt STRING) OUTPUT (score DOUBLE)
        |  WITH ('provider'='hash-score');
        |DESCRIBE MODEL m""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(dm == Seq(("txt", "INPUT"), ("score", "OUTPUT")))
    // DESCRIBE CONNECTION shows option KEYS only (credentials hidden)
    val dc = FlinkDdl.run(spark,
      """CREATE CONNECTION c WITH ('endpoint'='http://x',
        |  'auth-token'='secret');
        |DESCRIBE CONNECTION c""".stripMargin)
    assert(dc.columns.toSeq == Seq("option key"))
    val keys = dc.collect().map(_.getString(0)).toSeq
    assert(keys == Seq("auth-token", "endpoint"))
    assert(!dc.collect().mkString.contains("secret"))
    // DESCRIBE CATALOG / DATABASE
    val dcat = FlinkDdl.run(spark,
      "CREATE CATALOG c2 WITH ('type'='x'); DESCRIBE CATALOG c2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dcat == Map("name" -> "c2", "type" -> "x"))
    val ddb = FlinkDdl.run(spark,
      "CREATE DATABASE marts; DESCRIBE DATABASE marts")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ddb == Map("name" -> "marts", "catalog" -> "default_catalog"))
  }

  test("EXPLAIN detail specifications map onto Spark explain modes") {
    val t = Map("g" -> spark.range(5).toDF("k"))
    val cost = FlinkDdl.run(spark,
      "EXPLAIN ESTIMATED_COST SELECT k FROM g WHERE k > 2", t)
      .collect().head.getString(0)
    assert(cost.contains("sizeInBytes"), s"cost mode plan:\n$cost")
    val fmt = FlinkDdl.run(spark,
      "EXPLAIN JSON_EXECUTION_PLAN SELECT k FROM g", t)
      .collect().head.getString(0)
    assert(fmt.contains("(1) "), s"formatted plan:\n$fmt")
    val simple = FlinkDdl.run(spark,
      "EXPLAIN CHANGELOG_MODE, ESTIMATED_COST SELECT k FROM g", t)
      .collect().head.getString(0)
    assert(simple.contains("Physical Plan"))
  }

  test("SHOW CREATE MODEL / CONNECTION / MATERIALIZED TABLE round-trip") {
    val dir = tmpDir()
    // model DDL reconstructs and re-parses
    val m = FlinkDdl.run(spark,
      """CREATE MODEL m INPUT (txt STRING) OUTPUT (score DOUBLE,
        |  pred_label STRING) WITH ('provider'='hash-score');
        |SHOW CREATE MODEL m""".stripMargin)
      .collect().head.getString(0)
    assert(m.contains("CREATE MODEL `m`") && m.contains("INPUT (`txt` STRING)")
      && m.contains("'provider' = 'hash-score'"), m)
    val back = FlinkDdl.runScript(spark, m)
    assert(back.models("m").outputs.map(_._1) == Seq("score", "pred_label"))
    // connection DDL reconstructs
    val c = FlinkDdl.run(spark,
      """CREATE CONNECTION api WITH ('endpoint'='http://x', 'k'='v');
        |SHOW CREATE CONNECTION api""".stripMargin)
      .collect().head.getString(0)
    assert(c.contains("CREATE CONNECTION `api`") &&
      c.contains("'endpoint' = 'http://x'"), c)
    // materialized table DDL reconstructs with FRESHNESS/REFRESH_MODE and
    // the defining query, and the text re-parses through the runner
    val mt = FlinkDdl.run(spark,
      s"""CREATE MATERIALIZED TABLE mv
         |  PARTITIONED BY (tag)
         |  WITH ('path'='$dir/mv')
         |  FRESHNESS = INTERVAL '1' HOUR
         |  REFRESH_MODE = FULL
         |  AS SELECT k, CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END AS tag
         |     FROM g;
         |SHOW CREATE MATERIALIZED TABLE mv""".stripMargin,
      Map("g" -> spark.range(6).toDF("k")))
      .collect().head.getString(0)
    assert(mt.contains("CREATE MATERIALIZED TABLE `mv`"), mt)
    assert(mt.contains("FRESHNESS = INTERVAL '1' HOUR"), mt)
    assert(mt.contains("REFRESH_MODE = FULL"), mt)
    assert(mt.contains("AS SELECT k,"), mt)
    assert(mt.contains("PARTITIONED BY (`tag`)"), mt)
  }

  test("LOAD/UNLOAD/USE MODULES manage the module registries") {
    val shown = FlinkDdl.run(spark,
      """LOAD MODULE hive WITH ('hive-version'='3.1.3');
        |SHOW MODULES""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(shown == Seq("core", "hive"))
    // USE MODULES reorders and disables what is left off
    val full = FlinkDdl.run(spark,
      """LOAD MODULE hive;
        |USE MODULES hive;
        |SHOW FULL MODULES""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toSeq
    assert(full == Seq("core" -> false, "hive" -> true), s"$full")
    // UNLOAD drops it everywhere; unknown module errors
    val after = FlinkDdl.run(spark,
      """LOAD MODULE hive; UNLOAD MODULE hive; SHOW MODULES""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(after == Seq("core"))
    intercept[IllegalArgumentException](
      FlinkDdl.run(spark, "UNLOAD MODULE nope; SHOW MODULES"))
    intercept[IllegalArgumentException](
      FlinkDdl.run(spark, "USE MODULES nope; SHOW MODULES"))
  }

  test("sink.parallelism sizes the write; auto-compaction merges small files") {
    val dir = tmpDir()
    // sink.parallelism=3 -> three output files
    FlinkDdl.run(spark,
      s"""CREATE TABLE snk (k BIGINT) WITH ('connector'='filesystem',
         |  'path'='$dir/par', 'format'='parquet', 'sink.parallelism'='3');
         |INSERT INTO snk SELECT k FROM g;""".stripMargin,
      Map("g" -> spark.range(90).toDF("k")))
    assert(new java.io.File(s"$dir/par").listFiles()
      .count(_.getName.endsWith(".parquet")) == 3)
    // auto-compaction: a fragmented write (32 shuffle partitions) merges
    // down to ceil(bytes/target) files per leaf dir — tiny target keeps
    // it >1 but far below the input fragment count
    FlinkDdl.run(spark,
      s"""CREATE TABLE frag (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/cmp',
         |        'format'='parquet', 'auto-compaction'='true',
         |        'compaction.file-size'='1MB');
         |INSERT INTO frag SELECT k,
         |  CASE WHEN k % 2 = 0 THEN 'a' ELSE 'b' END AS tag
         |FROM g;""".stripMargin,
      Map("g" -> spark.range(2000).toDF("k").repartition(32)))
    for (tag <- Seq("a", "b")) {
      val files = new java.io.File(s"$dir/cmp/tag=$tag").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length <= 2,
        s"tag=$tag should compact to <=2 files, has ${files.length}")
    }
    // the data survives compaction intact
    val total = FlinkDdl.run(spark,
      s"""CREATE TABLE frag (k BIGINT, tag STRING) PARTITIONED BY (tag)
         |  WITH ('connector'='filesystem', 'path'='$dir/cmp',
         |        'format'='parquet');
         |SELECT COUNT(*) AS n, COUNT(DISTINCT k) AS d FROM frag"""
        .stripMargin)
      .collect().head
    assert(total.getLong(0) == 2000 && total.getLong(1) == 2000)
  }

  test("METADATA columns surface the filesystem file info") {
    val dir = tmpDir()
    spark.range(20).toDF("k").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/t")
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE t (
         |  k BIGINT,
         |  fpath STRING METADATA FROM 'file.path' VIRTUAL,
         |  fname STRING METADATA FROM 'file.name',
         |  fsize BIGINT METADATA FROM 'file.size',
         |  mtime TIMESTAMP(3) METADATA FROM 'file.modification-time'
         |) WITH ('connector'='filesystem', 'path'='$dir/t',
         |        'format'='parquet');
         |SELECT * FROM t""".stripMargin)
    val rows = out.collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val p = r.getAs[String]("fpath")
      assert(p.startsWith("/") && p.endsWith(".parquet") &&
        !p.contains("file:"), s"scheme-stripped path: $p")
      assert(r.getAs[String]("fname").endsWith(".parquet"))
      assert(r.getAs[Long]("fsize") > 0)
      assert(r.getAs[java.sql.Timestamp]("mtime") != null)
    }
    assert(rows.map(_.getAs[String]("fname")).distinct.length == 2,
      "two files -> two distinct file names")
    // the declared key round-trips through SHOW CREATE TABLE
    val shown = FlinkDdl.run(spark,
      s"""CREATE TABLE t (k BIGINT,
         |  fname STRING METADATA FROM 'file.name')
         |  WITH ('connector'='filesystem', 'path'='$dir/t',
         |        'format'='parquet');
         |SHOW CREATE TABLE t""".stripMargin).collect().head.getString(0)
    assert(shown.contains("METADATA FROM 'file.name'"), shown)
    // streaming face carries the same metadata
    val dir2 = tmpDir()
    spark.range(5).toDF("k").write.mode("overwrite").parquet(s"$dir2/in")
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k BIGINT,
         |  fname STRING METADATA FROM 'file.name')
         |  WITH ('connector'='filesystem', 'path'='$dir2/in',
         |        'format'='parquet');
         |CREATE TABLE snk (k BIGINT, fname STRING)
         |  WITH ('connector'='filesystem', 'path'='$dir2/out',
         |        'format'='parquet');
         |INSERT INTO snk SELECT k, fname FROM src""".stripMargin)
    try qs.foreach(_.processAllAvailable())
    finally qs.foreach(_.stop())
    val got = spark.read.parquet(s"$dir2/out")
    assert(got.count() == 5 &&
      got.collect().forall(_.getAs[String]("fname").endsWith(".parquet")))
  }

  test("PROCTIME() computed column and DESCRIBE JOB") {
    val dir = tmpDir()
    spark.range(4).toDF("k").write.mode("overwrite").parquet(s"$dir/t")
    // PROCTIME() becomes the batch evaluation time
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE t (k BIGINT, pt AS PROCTIME())
         |  WITH ('connector'='filesystem', 'path'='$dir/t',
         |        'format'='parquet');
         |SELECT k, pt FROM t""".stripMargin)
    val pts = out.collect().map(_.getAs[java.sql.Timestamp]("pt"))
    assert(pts.forall(_ != null))
    assert(math.abs(pts.head.getTime - System.currentTimeMillis()) < 600000)
    // DESCRIBE JOB errors in batch (no jobs), resolves in streaming
    intercept[IllegalArgumentException](
      FlinkDdl.run(spark, "DESCRIBE JOB 'nope'"))
  }

  test("COMPILE PLAN persists a manifest; EXECUTE PLAN runs it standalone") {
    val dir = tmpDir()
    val plan = s"$dir/plan.json"
    def ddl = s"""CREATE TABLE cp_src (k BIGINT, v BIGINT) WITH (
       |  'connector'='datagen', 'number-of-rows'='10',
       |  'fields.k.kind'='sequence', 'fields.k.start'='0',
       |  'fields.v.kind'='sequence', 'fields.v.start'='100');
       |CREATE TABLE cp_snk (k BIGINT, v BIGINT) WITH (
       |  'connector'='filesystem', 'path'='$dir/snk',
       |  'format'='parquet');""".stripMargin
    FlinkDdl.runScript(spark,
      s"""$ddl
         |COMPILE PLAN '$plan' FOR INSERT INTO cp_snk
         |SELECT k, v FROM cp_src;
         |SELECT 1 AS one""".stripMargin)
    assert(new java.io.File(plan).exists())
    // compile alone does not execute
    assert(!new java.io.File(s"$dir/snk").exists() ||
      spark.read.parquet(s"$dir/snk").count() == 0)
    // the manifest is self-contained: a FRESH runner with an empty
    // catalog executes it
    FlinkDdl.runScript(spark, s"EXECUTE PLAN '$plan'")
    assert(spark.read.parquet(s"$dir/snk").count() == 10)
    // recompiling over an existing file errors; IF NOT EXISTS keeps it
    val e = intercept[IllegalArgumentException](FlinkDdl.runScript(spark,
      s"""$ddl
         |COMPILE PLAN '$plan' FOR INSERT INTO cp_snk
         |SELECT k, v FROM cp_src""".stripMargin))
    assert(e.getMessage.contains("already exists"))
    FlinkDdl.runScript(spark,
      s"""$ddl
         |COMPILE PLAN IF NOT EXISTS '$plan' FOR INSERT INTO cp_snk
         |SELECT k, v FROM cp_src""".stripMargin)
    // COMPILE AND EXECUTE runs the statement immediately
    val plan2 = s"$dir/plan2.json"
    FlinkDdl.runScript(spark,
      s"""$ddl
         |COMPILE AND EXECUTE PLAN '$plan2' FOR INSERT INTO cp_snk
         |SELECT k + 100 AS k, v FROM cp_src""".stripMargin)
    assert(new java.io.File(plan2).exists())
    assert(spark.read.parquet(s"$dir/snk").count() == 20)
    // unsupported shapes are rejected with an actionable message
    val bad = intercept[IllegalArgumentException](FlinkDdl.runScript(spark,
      s"""$ddl
         |COMPILE PLAN '$dir/p3.json' FOR SELECT k FROM cp_src""".stripMargin))
    assert(bad.getMessage.contains("single INSERT"))
    val missing = intercept[IllegalArgumentException](
      FlinkDdl.runScript(spark, s"EXECUTE PLAN '$dir/nope.json'"))
    assert(missing.getMessage.contains("no plan file"))
  }

  test("compiled plans pin the physical shape; drift warns or throws strict") {
    val dir = tmpDir()
    val plan = s"$dir/pin.json"
    def ddl = s"""CREATE TABLE pin_src (k BIGINT, v BIGINT) WITH (
       |  'connector'='datagen', 'number-of-rows'='10',
       |  'fields.k.kind'='sequence', 'fields.k.start'='0',
       |  'fields.v.kind'='sequence', 'fields.v.start'='100');
       |CREATE TABLE pin_snk (k BIGINT, v BIGINT) WITH (
       |  'connector'='filesystem', 'path'='$dir/snk',
       |  'format'='parquet');""".stripMargin
    FlinkDdl.runScript(spark,
      s"""$ddl
         |COMPILE PLAN '$plan' FOR INSERT INTO pin_snk
         |SELECT k, v FROM pin_src;
         |SELECT 1 AS one""".stripMargin)
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(plan))
    assert(text.contains("\"physicalPlan\""), text)
    // matching fingerprint: executes silently
    FlinkDdl.runScript(spark, s"EXECUTE PLAN '$plan'")
    assert(spark.read.parquet(s"$dir/snk").count() == 10)
    // corrupt the pinned shape: non-strict still executes (warn only)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(plan),
      text.replace("\"physicalPlan\":\"", "\"physicalPlan\":\"DRIFTED-"))
    FlinkDdl.runScript(spark, s"EXECUTE PLAN '$plan'")
    assert(spark.read.parquet(s"$dir/snk").count() == 20)
    // strict session: drift is an error naming both shapes
    spark.conf.set("spark.graft.strictCompiledPlan", "true")
    try {
      val e = intercept[IllegalStateException](
        FlinkDdl.runScript(spark, s"EXECUTE PLAN '$plan'"))
      assert(e.getMessage.contains("drifted") &&
        e.getMessage.contains("DRIFTED-"), e.getMessage)
    } finally spark.conf.unset("spark.graft.strictCompiledPlan")
  }

  test("COMPILE PLAN pins state-layout versions; a bump fails strict " +
      "EXECUTE naming the operator — and never invalidates a STATELESS " +
      "plan, which pins an empty set") {
    val dir = tmpDir()
    val plan = s"$dir/layouts.json"
    val statelessPlan = s"$dir/stateless.json"
    // a STATEFUL shape (aggregate) pins the full registry; a stateless
    // projection pins an EMPTY set (r18: layout bumps must not
    // invalidate pipelines that hold no operator state)
    FlinkDdl.runScript(spark,
      s"""CREATE TABLE sl_src (k BIGINT) WITH (
         |  'connector'='datagen', 'number-of-rows'='5',
         |  'fields.k.kind'='sequence', 'fields.k.start'='0');
         |CREATE TABLE sl_snk (k BIGINT) WITH (
         |  'connector'='filesystem', 'path'='$dir/snk',
         |  'format'='parquet');
         |CREATE TABLE sl_agg_snk (k BIGINT, n BIGINT) WITH (
         |  'connector'='filesystem', 'path'='$dir/aggsnk',
         |  'format'='parquet');
         |COMPILE PLAN '$plan' FOR INSERT INTO sl_agg_snk
         |SELECT k, COUNT(*) AS n FROM sl_src GROUP BY k;
         |COMPILE PLAN '$statelessPlan' FOR INSERT INTO sl_snk
         |SELECT k FROM sl_src;
         |SELECT 1 AS one""".stripMargin)
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(plan))
    // the stateful manifest pins the full registry, restore-fixture-id
    // keyed; the stateless one pins {}
    assert(text.contains("\"stateLayouts\""), text)
    assert(text.contains("\"changelog_topn\":2"), text)
    val statelessText = java.nio.file.Files.readString(
      java.nio.file.Paths.get(statelessPlan))
    assert(statelessText.contains("\"stateLayouts\":{}"), statelessText)
    // unchanged layouts: executes
    FlinkDdl.runScript(spark, s"EXECUTE PLAN '$plan'")
    assert(spark.read.parquet(s"$dir/aggsnk").count() == 5)
    // simulate a state-encoding change (the commit that would regenerate
    // the operator's restore fixture bumps its version)
    graft.streaming.StateLayouts.overrides = Map("changelog_topn" -> 3)
    try {
      // non-strict: warn only, still runs
      FlinkDdl.runScript(spark, s"EXECUTE PLAN '$plan'")
      assert(spark.read.parquet(s"$dir/aggsnk").count() == 10)
      // strict: throws NAMING the operator and both versions
      spark.conf.set("spark.graft.strictCompiledPlan", "true")
      val e = intercept[IllegalStateException](
        FlinkDdl.runScript(spark, s"EXECUTE PLAN '$plan'"))
      assert(e.getMessage.contains("state layout") &&
        e.getMessage.contains("changelog_topn") &&
        e.getMessage.contains("pinned v2") &&
        e.getMessage.contains("now v3"), e.getMessage)
      // the stateless plan survives the same bump under strict mode
      FlinkDdl.runScript(spark, s"EXECUTE PLAN '$statelessPlan'")
      assert(spark.read.parquet(s"$dir/snk").count() == 5)
    } finally {
      graft.streaming.StateLayouts.overrides = Map.empty
      spark.conf.unset("spark.graft.strictCompiledPlan")
    }
  }

  test("ANALYZE TABLE COMPUTE STATISTICS feeds the cost model") {
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val res = FlinkDdl.runScript(spark,
        s"""CREATE TABLE an_ev (
           |  event_id BIGINT, user_id BIGINT, value DOUBLE
           |) WITH ('connector'='filesystem', 'path'='$sf/events.parquet',
           |        'format'='parquet');
           |ANALYZE TABLE an_ev COMPUTE STATISTICS FOR COLUMNS user_id;
           |SELECT COUNT(*) AS n FROM an_ev""".stripMargin)
      assert(res.dataFrame.collect().head.getLong(0) > 0)
      // the spec now reads through the stats-carrying catalog entry
      val spec = res.catalog("an_ev")
      val backed = spec.options(FlinkDdl.AnalyzedOpt)
      assert(spark.catalog.tableExists(backed))
      // native statistics landed: DESC EXTENDED shows them …
      val desc = spark.sql(s"DESC EXTENDED `$backed`")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      assert(desc.exists(l => l.contains("Statistics") && l.contains("rows")),
        desc.mkString("\n"))
      // … and the CBO-visible row count reaches the source's plan
      val stats = FlinkDdl.sourceDf(spark, spec)
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.longValue > 0), stats.toString)
      // DROP TABLE removes the stats carrier with the table
      FlinkDdl.runScript(spark,
        s"""CREATE TABLE an_ev2 (event_id BIGINT)
           |WITH ('connector'='filesystem', 'path'='$sf/events.parquet',
           |      'format'='parquet');
           |ANALYZE TABLE an_ev2 COMPUTE STATISTICS;
           |DROP TABLE an_ev2;
           |SELECT 1 AS one""".stripMargin)
      assert(!spark.catalog.tableExists("graft_analyzed_an_ev2"))
      // unknown table errors clearly
      val e = intercept[IllegalArgumentException](FlinkDdl.run(spark,
        "ANALYZE TABLE nope COMPUTE STATISTICS"))
      assert(e.getMessage.contains("unknown table"))
    } finally spark.conf.set("spark.sql.cbo.enabled", prevCbo)
  }

  test("CREATE CATALOG type=jdbc resolves tables through the connection") {
    import spark.implicits._
    // seed an embedded Derby store (the JDBC driver bundled with Spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_derby_cat")
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "score")
      .write.mode("overwrite").format("jdbc")
      .option("url", s"jdbc:derby:$dir/db;create=true")
      .option("dbtable", "store").save()
    // c.db.t resolves through the catalog's connection as a jdbc scan
    val out = FlinkDdl.run(spark,
      s"""CREATE CATALOG jcat WITH
         |  ('type' = 'jdbc', 'base-url' = 'jdbc:derby:$dir');
         |SELECT name, score FROM jcat.db.store ORDER BY id
         |""".stripMargin)
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      == Seq(("a", 10.0), ("b", 20.0)))
    // SHOW TABLES under the jdbc catalog lists the connection's tables
    val shown = FlinkDdl.run(spark,
      s"""CREATE CATALOG jcat2 WITH ('type' = 'jdbc',
         |  'base-url' = 'jdbc:derby:$dir', 'default-database' = 'db');
         |USE CATALOG jcat2;
         |SHOW TABLES
         |""".stripMargin)
    assert(shown.collect().map(_.getString(0)).contains("store"))
    // a non-jdbc catalog keeps rejecting unknown references
    val e = intercept[Exception](FlinkDdl.run(spark,
      "SELECT * FROM nocat.db.t"))
    assert(e != null)

    // comma-separated FROM lists are table-reference positions too
    // (ADVICE r11): `FROM a, jcat.db.t` resolves through the catalog
    // (the catalog registry is per-script, so re-create it here)
    val mkCat = s"""CREATE CATALOG jcat WITH
                   |  ('type' = 'jdbc', 'base-url' = 'jdbc:derby:$dir');
                   |""".stripMargin
    spark.range(1, 3).toDF("id").createOrReplaceTempView("graft_jc_local")
    val comma = FlinkDdl.run(spark, mkCat +
      s"""SELECT l.id, s.name FROM graft_jc_local l, jcat.db.store s
         |WHERE l.id = s.id ORDER BY l.id""".stripMargin)
    assert(comma.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b")))
    // a three-dotted SELECT-list path whose head collides with the
    // catalog name must NOT trigger the rewrite (struct-field access
    // on an alias, not a table reference)
    val noScope = FlinkDdl.run(spark, mkCat +
      """SELECT jcat.db.store FROM
        |  (SELECT named_struct('store', id) AS db FROM graft_jc_local)
        |  AS jcat ORDER BY jcat.db.store""".stripMargin)
    assert(noScope.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // jdbc catalogs are read-only: INSERT targets get an explicit
    // error naming the limitation, not an unrelated 'table not found'
    val ro = intercept[IllegalArgumentException](FlinkDdl.run(spark,
      mkCat + "INSERT INTO jcat.db.store SELECT 3, 'c', 30.0"))
    assert(ro.getMessage.contains("read-only"))
    assert(ro.getMessage.contains("jcat.db.store"))
  }

  test("time travel reads the snapshot at or before the constant") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tt-").toString
    // two snapshots: 2024-01-01 and 2024-06-01 (epoch millis dirs)
    val t1 = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val t2 = java.time.LocalDateTime.parse("2024-06-01T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    Seq((1L, "jan")).toDF("id", "v").write.parquet(s"$dir/snapshot=$t1")
    Seq((1L, "jun"), (2L, "jun2")).toDF("id", "v")
      .write.parquet(s"$dir/snapshot=$t2")
    val ddl = s"""CREATE TABLE tt (id BIGINT, v STRING) WITH (
      'connector'='filesystem', 'path'='$dir', 'format'='parquet',
      'snapshots'='true');
    """
    // between the snapshots → january state
    val mid = FlinkDdl.run(spark, ddl +
      "SELECT v FROM tt FOR SYSTEM_TIME AS OF TIMESTAMP '2024-03-01 00:00:00'")
    assert(mid.collect().map(_.getString(0)).toSeq == Seq("jan"))
    // after both → june state
    val late = FlinkDdl.run(spark, ddl +
      "SELECT count(*) AS n FROM tt FOR SYSTEM_TIME AS OF TIMESTAMP '2025-01-01 00:00:00'")
    assert(late.collect().head.getLong(0) == 2L)
    // interval arithmetic reduces: jun 2 - 1 DAY → june snapshot;
    // - 6 MONTH → january
    val minus = FlinkDdl.run(spark, ddl +
      "SELECT count(*) AS n FROM tt FOR SYSTEM_TIME AS OF TIMESTAMP " +
        "'2024-06-02 00:00:00' - INTERVAL '1' DAY")
    assert(minus.collect().head.getLong(0) == 2L)
    val way = FlinkDdl.run(spark, ddl +
      "SELECT count(*) AS n FROM tt FOR SYSTEM_TIME AS OF TIMESTAMP " +
        "'2024-07-01 00:00:00' - INTERVAL '6' MONTH")
    assert(way.collect().head.getLong(0) == 1L)
    // before every snapshot → error naming the earliest
    val early = intercept[IllegalArgumentException](FlinkDdl.run(spark, ddl +
      "SELECT v FROM tt FOR SYSTEM_TIME AS OF TIMESTAMP '2020-01-01 00:00:00'"))
    assert(early.getMessage.contains("no snapshot"))
    // non-snapshot table → catalog-contract error
    val plain = intercept[IllegalArgumentException](FlinkDdl.run(spark,
      s"""CREATE TABLE tp (id BIGINT) WITH ('connector'='filesystem',
        'path'='$dir/snapshot=$t1', 'format'='parquet');
      SELECT * FROM tp FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-01 00:00:00'"""))
    assert(plain.getMessage.contains("does not support time travel"))
    // non-reducible expression → the reference's error shape
    val bad = intercept[IllegalArgumentException](FlinkDdl.run(spark, ddl +
      "SELECT v FROM tt FOR SYSTEM_TIME AS OF TO_TIMESTAMP_LTZ(0, 3)"))
    assert(bad.getMessage.contains("Unsupported time travel expression"))
  }

  test("SHOW PROCEDURES lists the registry, scoped and filtered") {
    val custom = new graft.sql.Procedure {
      def call(ctx: graft.sql.ProcedureContext, args: Seq[Any]): Seq[Any] =
        Seq(1L)
    }
    val procs = graft.sql.Procedures.builtin +
      ("cat.db.compact" -> custom) + ("cat.db.expire" -> custom)
    def names(sql: String): Seq[String] =
      FlinkDdl.run(spark, sql, procedures = procs)
        .collect().map(_.getString(0)).toSeq
    assert(names("SHOW PROCEDURES") ==
      Seq("compact", "expire", "generate_n"))
    assert(names("SHOW PROCEDURES IN cat.db") == Seq("compact", "expire"))
    assert(names("SHOW PROCEDURES FROM `system`") == Seq("generate_n"))
    assert(names("SHOW PROCEDURES LIKE 'comp%'") == Seq("compact"))
    assert(names("SHOW PROCEDURES NOT LIKE 'comp%'") ==
      Seq("expire", "generate_n"))
  }

  test("CALL runs catalog procedures (docs example + custom + unknown)") {
    // the docs' GenerateSequenceProcedure through the full spelling
    val seq = FlinkDdl.run(spark,
      "CALL my_catalog.`system`.generate_n(4)")
    assert(seq.columns.toSeq == Seq("result"))
    assert(seq.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    // bare-name resolution
    assert(FlinkDdl.run(spark, "CALL generate_n(2)")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
    // a custom procedure with mixed literal args and string results
    val custom = new graft.sql.Procedure {
      def call(ctx: graft.sql.ProcedureContext,
          args: Seq[Any]): Seq[Any] =
        Seq(s"args=${args.mkString("|")}",
          s"spark=${ctx.spark ne null}")
    }
    val out = FlinkDdl.run(spark,
      "CALL cat.db.echo('x', 3, 2.5, true, null)",
      procedures = graft.sql.Procedures.builtin + ("cat.db.echo" -> custom))
    assert(out.collect().map(_.getString(0)).toSeq ==
      Seq("args=x|3|2.5|true|null", "spark=true"))
    // unknown procedure: actionable error listing the registry
    val e = intercept[IllegalArgumentException](
      FlinkDdl.run(spark, "CALL nope.missing(1)"))
    assert(e.getMessage.contains("does not exist"))
    assert(e.getMessage.contains("generate_n"))
  }

  // ------------------------------------------------------------- CDC face

  test("runStreaming: a debezium-json source streams through the " +
      "signed-aggregation tier; a group whose last row deletes retracts") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // CDC in, changelog out, through pure SQL text (VERDICT r17 task 2;
    // ref debezium.md + StreamExecGroupAggregate over a CDC source):
    // COUNT/SUM rewrite to signed contributions, the sink MERGEs per
    // micro-batch on its PK, and a group whose live-row count reaches
    // zero is DELETED (the reference's group-agg retraction).
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE changes (
         |  id BIGINT, k STRING, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='debezium-json');
         |CREATE TABLE by_k (k STRING, n BIGINT, sv BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO by_k
         |SELECT k, COUNT(*) AS n, SUM(v) AS sv
         |FROM changes GROUP BY k""".stripMargin)
    assert(qs.size == 1 && qs.head.isActive)
    def row(id: Long, k: String, v: Long) =
      s"""{"id":$id,"k":"$k","v":$v}"""
    def arrive(lines: String*): Unit = {
      lines.toSeq.toDF("value").coalesce(1)
        .write.mode("append").text(s"$dir/src")
      qs.head.processAllAvailable()
    }
    def state(): Map[String, (Long, Long)] =
      graft.changelog.UpsertSink.readTable(spark, s"$dir/snk").as[(String, Long, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    try {
      // snapshot: a has two rows, b one
      arrive(
        s"""{"after":${row(1, "a", 1)},"op":"c","ts_ms":1}""",
        s"""{"after":${row(2, "a", 2)},"op":"c","ts_ms":1}""",
        s"""{"after":${row(3, "b", 5)},"op":"c","ts_ms":1}""")
      assert(state() == Map("a" -> ((2L, 3L)), "b" -> ((1L, 5L))))
      // update revises a's sum in place; deleting b's ONLY row must
      // remove the b group from the sink, not leave it stale
      arrive(
        s"""{"before":${row(2, "a", 2)},"after":${row(2, "a", 10)},"op":"u","ts_ms":2}""",
        s"""{"before":${row(3, "b", 5)},"op":"d","ts_ms":2}""")
      assert(state() == Map("a" -> ((2L, 11L))),
        "a group whose live count reached zero must be deleted")
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: CDC passthrough MERGEs projected changelog rows; " +
      "an update leaving the WHERE set deletes the sink row") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // no aggregation: ChangelogNormalize semantics — -U degrades to -D so
    // a new image that exits the predicate still retracts the old row
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE changes (
         |  id BIGINT, k STRING, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='debezium-json');
         |CREATE TABLE small (id BIGINT, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO small
         |SELECT id, v FROM changes WHERE v < 100""".stripMargin)
    def row(id: Long, k: String, v: Long) =
      s"""{"id":$id,"k":"$k","v":$v}"""
    def arrive(lines: String*): Unit = {
      lines.toSeq.toDF("value").coalesce(1)
        .write.mode("append").text(s"$dir/src")
      qs.head.processAllAvailable()
    }
    def state(): Map[Long, Long] =
      graft.changelog.UpsertSink.readTable(spark, s"$dir/snk").as[(Long, Long)].collect().toMap
    try {
      arrive(
        s"""{"after":${row(1, "a", 5)},"op":"c","ts_ms":1}""",
        s"""{"after":${row(2, "a", 50)},"op":"c","ts_ms":1}""",
        s"""{"after":${row(3, "b", 500)},"op":"c","ts_ms":1}""")
      assert(state() == Map(1L -> 5L, 2L -> 50L))
      arrive(
        // id 1 exits the predicate: only its -U (v=5) passes the WHERE —
        // the sink must DELETE id 1, not keep the stale v=5
        s"""{"before":${row(1, "a", 5)},"after":${row(1, "a", 200)},"op":"u","ts_ms":2}""",
        // id 2 updates in place (both images pass)
        s"""{"before":${row(2, "a", 50)},"after":${row(2, "a", 60)},"op":"u","ts_ms":2}""",
        // id 3 re-enters: its new image passes the predicate
        s"""{"before":${row(3, "b", 500)},"after":${row(3, "b", 70)},"op":"u","ts_ms":2}""")
      assert(state() == Map(2L -> 60L, 3L -> 70L),
        "predicate exits must delete; predicate entries must insert")
    } finally qs.foreach(_.stop())
  }

  test("batch face: a CDC-format table reads as its FINAL state; " +
      "maxwell-json and ogg-json decode through the same DDL face") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/dbz").mkdirs()
    Seq(
      """{"after":{"id":1,"v":10},"op":"c","ts_ms":1}""",
      """{"after":{"id":2,"v":20},"op":"c","ts_ms":1}""",
      """{"before":{"id":1,"v":10},"after":{"id":1,"v":11},"op":"u","ts_ms":2}""",
      """{"before":{"id":2,"v":20},"op":"d","ts_ms":3}""")
      .toDF("value").coalesce(1).write.mode("append").text(s"$dir/dbz")
    val out = FlinkDdl.run(spark,
      s"""CREATE TABLE t (id BIGINT, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/dbz',
         |        'format'='debezium-json');
         |SELECT id, v FROM t ORDER BY id""".stripMargin)
    assert(out.as[(Long, Long)].collect().toSeq == Seq((1L, 11L)))
    // maxwell-json through the same face
    new java.io.File(s"$dir/mxw").mkdirs()
    Seq(
      """{"data":{"id":7,"v":1},"type":"insert","ts":1}""",
      """{"data":{"id":7,"v":2},"old":{"v":1},"type":"update","ts":2}""")
      .toDF("value").coalesce(1).write.mode("append").text(s"$dir/mxw")
    val mx = FlinkDdl.run(spark,
      s"""CREATE TABLE m (id BIGINT, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/mxw',
         |        'format'='maxwell-json');
         |SELECT id, v FROM m""".stripMargin)
    assert(mx.as[(Long, Long)].collect().toSeq == Seq((7L, 2L)))
    // a CDC table without a PRIMARY KEY has no upsert identity: the
    // require fires in sourceDf, so the table never becomes resolvable
    // (the runner's unreadable-table convention) and the direct read
    // carries the actionable message
    val e = intercept[Exception](FlinkDdl.run(spark,
      s"""CREATE TABLE bad (id BIGINT, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/dbz',
         |        'format'='debezium-json');
         |SELECT * FROM bad""".stripMargin))
    assert(e.getMessage.contains("bad"))
    val e2 = intercept[IllegalArgumentException](FlinkDdl.sourceDf(spark,
      FlinkDdl.TableSpec("bad",
        Seq(FlinkDdl.ColumnSpec("id",
          Some(org.apache.spark.sql.types.LongType), None)),
        None, Nil,
        Map("connector" -> "filesystem", "path" -> s"$dir/dbz",
          "format" -> "debezium-json"),
        temporary = false)))
    assert(e2.getMessage.contains("PRIMARY KEY"))
    // MIN/MAX now route through the retractable tier (r19); the loud
    // error remains only for shapes no tier covers — here TWO distinct
    // value expressions, which the single-column multiset can't track
    new java.io.File(s"$dir/src2").mkdirs()
    val qs = scala.util.Try(FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE c2 (id BIGINT, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/src2',
         |        'format'='debezium-json');
         |CREATE TABLE s2 (id BIGINT, mx BIGINT, mn BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/s2',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck2');
         |INSERT INTO s2
         |SELECT id, MAX(v) AS mx, MIN(id) AS mn FROM c2 GROUP BY id
         |""".stripMargin))
    assert(qs.isFailure &&
      qs.failed.get.getMessage.contains("retractable"))
  }

  test("runStreaming: CDC MIN/MAX routes through the retractable tier; " +
      "deleting the current min falls back cross-batch") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // VERDICT r18 task 3 (ref MinWithRetractAggFunction's value
    // multiset): the SQL entry runs MIN/MAX over a CDC source on
    // RetractingChangelogAgg — when a later batch deletes the row
    // holding the current min, the multiset must fall back, and a group
    // whose last row deletes must leave the sink.
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE changes (
         |  id BIGINT, k STRING, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='debezium-json');
         |CREATE TABLE by_k (k STRING, mn BIGINT, mx BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO by_k
         |SELECT k, MIN(v) AS mn, MAX(v) AS mx
         |FROM changes GROUP BY k""".stripMargin)
    def row(id: Long, k: String, v: Long) =
      s"""{"id":$id,"k":"$k","v":$v}"""
    def arrive(lines: String*): Unit = {
      lines.toSeq.toDF("value").coalesce(1)
        .write.mode("append").text(s"$dir/src")
      qs.head.processAllAvailable()
    }
    def state(): Map[String, (Long, Long)] =
      graft.changelog.UpsertSink.readTable(spark, s"$dir/snk")
        .as[(String, Long, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    try {
      arrive(
        s"""{"after":${row(1, "a", 5)},"op":"c","ts_ms":1}""",
        s"""{"after":${row(2, "a", 9)},"op":"c","ts_ms":1}""",
        s"""{"after":${row(3, "b", 7)},"op":"c","ts_ms":1}""")
      assert(state() == Map("a" -> ((5L, 9L)), "b" -> ((7L, 7L))))
      arrive(
        // deleting the row holding a's MIN: the multiset falls back to 9
        s"""{"before":${row(1, "a", 5)},"op":"d","ts_ms":2}""",
        // b's only row deletes: the group must leave the sink
        s"""{"before":${row(3, "b", 7)},"op":"d","ts_ms":2}""")
      assert(state() == Map("a" -> ((9L, 9L))),
        "retracted min must fall back; emptied group must delete")
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: cdc JOIN cdc routes through ChangelogJoin; a " +
      "dim-side delete retracts joined rows cross-batch") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/osrc").mkdirs()
    new java.io.File(s"$dir/csrc").mkdirs()
    // VERDICT r18 task 2 (ref StreamingJoinOperator.java:38): two
    // Debezium topics equi-joined by SQL text. The cross-batch
    // retraction contract: a customer deleted in a LATER batch must
    // retract every pairing it formed in an EARLIER one.
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE o (id BIGINT, ock BIGINT, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/osrc',
         |        'format'='debezium-json');
         |CREATE TABLE c (ck BIGINT, b BIGINT,
         |  PRIMARY KEY (ck) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/csrc',
         |        'format'='debezium-json');
         |CREATE TABLE j (id BIGINT, ck BIGINT, v BIGINT, b BIGINT,
         |  PRIMARY KEY (id, ck) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO j
         |SELECT o.id, c.ck, o.v, c.b
         |FROM o JOIN c ON o.ock = c.ck""".stripMargin)
    def arrive(path: String, lines: String*): Unit = {
      lines.toSeq.toDF("value").coalesce(1)
        .write.mode("append").text(path)
      qs.head.processAllAvailable()
    }
    def state(): Map[Long, (Long, Long, Long)] =
      graft.changelog.UpsertSink.readTable(spark, s"$dir/snk")
        .as[(Long, Long, Long, Long)]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    try {
      arrive(s"$dir/osrc",
        """{"after":{"id":1,"ock":10,"v":1},"op":"c","ts_ms":1}""",
        """{"after":{"id":2,"ock":20,"v":2},"op":"c","ts_ms":1}""")
      arrive(s"$dir/csrc",
        """{"after":{"ck":10,"b":100},"op":"c","ts_ms":2}""",
        """{"after":{"ck":20,"b":200},"op":"c","ts_ms":2}""")
      assert(state() == Map(
        1L -> ((10L, 1L, 100L)), 2L -> ((20L, 2L, 200L))))
      // later batch: customer 10 deletes — order 1's pairing (formed two
      // batches earlier) must retract from the sink; order 2 updates in
      // place through the join
      arrive(s"$dir/csrc",
        """{"before":{"ck":10,"b":100},"op":"d","ts_ms":3}""")
      arrive(s"$dir/osrc",
        """{"before":{"id":2,"ock":20,"v":2},"after":{"id":2,"ock":20,"v":5},"op":"u","ts_ms":4}""")
      assert(state() == Map(2L -> ((20L, 5L, 200L))),
        "a dim delete must retract its joined rows cross-batch")
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: a PK sink without 'distribution-buckets' defaults " +
      "to the bucketed layout; a batch rewrites only touched buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => fcol, hash, pmod, lit => flit}
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // VERDICT r18 task 5: the whole-table rewrite was the at-scale
    // default failure shape — new upsert stores now lay out hash-bucketed
    // (64) unless declared otherwise, so per-batch MERGE I/O stays
    // proportional to the touched buckets from day one.
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k BIGINT, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE agg (k BIGINT, n BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO agg
         |SELECT k, COUNT(*) AS n FROM src GROUP BY k""".stripMargin)
    def bucketOf(k: Long): Int =
      spark.range(1).select(pmod(hash(flit(k)), flit(64))).head().getInt(0)
    val k1 = 1L
    val k2 = (2L to 200L).find(k => bucketOf(k) != bucketOf(k1)).get
    def arrive(rows: (Long, Long)*): Unit = {
      rows.toSeq.toDF("k", "v").write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
    }
    def filesOf(b: Int): Set[String] = {
      val d = new java.io.File(s"$dir/snk", s"__bucket=$b")
      Option(d.list()).map(_.toSet).getOrElse(Set.empty)
    }
    try {
      arrive((k1, 1L), (k2, 1L))
      assert(new java.io.File(s"$dir/snk").list()
        .exists(_.startsWith("__bucket=")),
        "a new default-configured PK sink must lay out bucketed")
      val before = filesOf(bucketOf(k1))
      assert(before.nonEmpty)
      // second batch touches only k2's bucket: k1's bucket dir must keep
      // its exact file set (the touched-bucket MERGE I/O contract)
      arrive((k2, 2L))
      assert(filesOf(bucketOf(k1)) == before,
        "an untouched bucket must not be rewritten")
      val out = graft.changelog.UpsertSink.readTable(spark, s"$dir/snk")
        .as[(Long, Long)].collect().toMap
      assert(out == Map(k1 -> 1L, k2 -> 2L))
    } finally qs.foreach(_.stop())
  }

  test("DELETE / UPDATE on a bucketed CDC sink keep its layout; the " +
      "next CDC batch merges into the surviving rows") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    val sink =
      s"""CREATE TABLE by_k (k STRING, n BIGINT, sv BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck')"""
        .stripMargin
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE changes (
         |  id BIGINT, k STRING, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='debezium-json');
         |$sink;
         |INSERT INTO by_k
         |SELECT k, COUNT(*) AS n, SUM(v) AS sv
         |FROM changes GROUP BY k""".stripMargin)
    def insert(id: Long, k: String, v: Long) =
      s"""{"after":{"id":$id,"k":"$k","v":$v},"op":"c","ts_ms":$id}"""
    def arrive(lines: String*): Unit = {
      lines.toSeq.toDF("value").coalesce(1)
        .write.mode("append").text(s"$dir/src")
      qs.head.processAllAvailable()
    }
    def state(): Map[String, (Long, Long)] =
      graft.changelog.UpsertSink.readTable(spark, s"$dir/snk")
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
        .toMap
    try {
      arrive(insert(1, "a", 1), insert(2, "b", 2), insert(3, "c", 3))
      FlinkDdl.runScript(spark,
        s"""$sink;
           |DELETE FROM by_k WHERE k = 'b';
           |UPDATE by_k SET sv = -1 WHERE k = 'a'""".stripMargin)
      assert(state() == Map("a" -> ((1L, -1L)), "c" -> ((1L, 3L))))
      assert(graft.changelog.UpsertSink.isBucketed(spark, s"$dir/snk") &&
        !new java.io.File(s"$dir/snk").list().exists(_.endsWith(".parquet")),
        "row-level DML must keep the bucketed layout")
      // the next batch touches only c: a must survive it
      arrive(insert(4, "c", 4))
      assert(state() == Map("a" -> ((1L, -1L)), "c" -> ((2L, 7L))))
      val err = intercept[IllegalArgumentException](FlinkDdl.runScript(
        spark, s"$sink;\nUPDATE by_k SET k = 'z' WHERE k = 'a'"))
      assert(err.getMessage.contains("PRIMARY KEY"), err.getMessage)
    } finally qs.foreach(_.stop())
  }

  test("withArrivalSeq raises actionably past the 2^20 per-partition " +
      "ordering bound; stays exact under it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => fcol, lit => flit, max => fmax}
    // under the bound: seq' = ts*2^20 + arrival index, exact
    val small = spark.range(0, 8, 1, 1).toDF("id")
      .withColumn("__rowkind", flit("+I")).withColumn("__seq", flit(5L))
    val mx = graft.sql.StreamingCdc.withArrivalSeq(small)
      .agg(fmax(fcol("__seq"))).head().getLong(0)
    assert(mx == 5L * (1L << 20) + 7L)
    // past it: the guard must RAISE (a wrapped counter would silently
    // misorder same-timestamp envelopes), naming the remedy
    val big = spark.range(0, (1L << 20) + 4, 1, 1).toDF("id")
      .withColumn("__rowkind", flit("+I")).withColumn("__seq", flit(5L))
    val e = intercept[Exception](
      graft.sql.StreamingCdc.withArrivalSeq(big)
        .agg(fmax(fcol("__seq"))).head())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("ordering bound"), chain(e))
  }

  test("runStreaming: un-LIMITed HAVING materializes INCREMENTALLY — " +
      "per-batch MERGE volume is O(changed groups), not O(result)") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // VERDICT r17 task 3 (ref SinkUpsertMaterializer.java:64): a HAVING
    // over an updating aggregate with an upsert-capable sink must not
    // truncate-replace all passing groups per micro-batch — the filter
    // runs as a __keep flag on the Update-mode aggregate and the sink
    // MERGEs only the groups the batch changed, deleting exited keys.
    val merges = scala.collection.mutable.ArrayBuffer.empty[Long]
    graft.sql.FlinkDdl.onMergeBatch =
      Some((name, n) => if (name == "small_groups") merges += n)
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k BIGINT, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE small_groups (k BIGINT, n BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO small_groups
         |SELECT k, COUNT(*) AS n FROM src GROUP BY k
         |HAVING COUNT(*) < 3""".stripMargin)
    try {
      // 10^4 groups, count 1 each: all pass the HAVING
      spark.range(10000).select(col("id").as("k"), col("id").as("v"))
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      assert(spark.read.parquet(s"$dir/snk").count() == 10000L)
      // one batch flips 3 keys past the threshold: the MERGE input must
      // carry ~3 rows, not re-write the 10^4-group result
      Seq(1L, 1L, 2L, 2L, 3L, 3L).map(k => (k, k)).toDF("k", "v")
        .write.mode("append").parquet(s"$dir/src")
      qs.head.processAllAvailable()
      assert(merges.nonEmpty && merges.last <= 10L,
        s"second batch MERGEd ${merges.last} rows — expected O(delta)=3")
      val snk = spark.read.parquet(s"$dir/snk")
      assert(snk.count() == 9997L)
      assert(snk.where(col("k").isin(1L, 2L, 3L)).count() == 0L,
        "keys that exited the HAVING must be deleted from the sink")
    } finally {
      graft.sql.FlinkDdl.onMergeBatch = None
      qs.foreach(_.stop())
    }
  }

  test("runStreaming: canal-json source (batched data arrays, " +
      "changed-columns old) streams through the signed-aggregation tier") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    // the canal envelope face through pure DDL: multi-row `data` batches
    // exercise the posexplode path and `old` carries ONLY changed columns
    // (pre-image reconstructed by overlay) — same tier as debezium
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE changes (
         |  id BIGINT, k STRING, v BIGINT,
         |  PRIMARY KEY (id) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='canal-json');
         |CREATE TABLE by_k (k STRING, n BIGINT, sv BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck');
         |INSERT INTO by_k
         |SELECT k, COUNT(*) AS n, SUM(v) AS sv
         |FROM changes GROUP BY k""".stripMargin)
    def arrive(lines: String*): Unit = {
      lines.toSeq.toDF("value").coalesce(1)
        .write.mode("append").text(s"$dir/src")
      qs.head.processAllAvailable()
    }
    def state(): Map[String, (Long, Long)] =
      graft.changelog.UpsertSink.readTable(spark, s"$dir/snk").as[(String, Long, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    try {
      // one INSERT envelope carrying a two-row batch + a single insert
      arrive(
        """{"data":[{"id":1,"k":"a","v":1},{"id":2,"k":"a","v":2}],"type":"INSERT","ts":1}""",
        """{"data":[{"id":3,"k":"b","v":5}],"type":"INSERT","ts":1}""")
      assert(state() == Map("a" -> ((2L, 3L)), "b" -> ((1L, 5L))))
      // UPDATE with changed-columns-only old (v was 2); DELETE b's row
      arrive(
        """{"data":[{"id":2,"k":"a","v":10}],"old":[{"v":2}],"type":"UPDATE","ts":2}""",
        """{"data":[{"id":3,"k":"b","v":5}],"type":"DELETE","ts":2}""")
      assert(state() == Map("a" -> ((2L, 11L))),
        "canal overlay pre-image must retract v=2, and b must vanish")
    } finally qs.foreach(_.stop())
  }

  test("runStreaming: a sink PRIMARY KEY that is not the GROUP BY key " +
      "keeps the full result on every update-mode tier") {
    import spark.implicits._
    val dir = tmpDir()
    Seq("src", "cdc").foreach(d => new java.io.File(s"$dir/$d").mkdirs())
    // keyed on the count n, a per-key MERGE would leave the stale (a, 1)
    // beside (a, 2): each tier must notice the PRIMARY KEY is not the
    // grouping key and replace the whole result instead
    val sinks = Seq("plain_snk", "having_snk", "signed_snk")
    val ddl = sinks.map(n =>
      s"""CREATE TABLE $n (k STRING, n BIGINT,
         |  PRIMARY KEY (n) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/$n',
         |        'format'='parquet', 'sink.checkpoint-dir'='$dir/ck_$n');
         |""".stripMargin).mkString
    val qs = FlinkDdl.runStreaming(spark,
      s"""CREATE TABLE src (k STRING, v BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/src',
         |        'format'='parquet');
         |CREATE TABLE changes (id BIGINT, k STRING,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |  WITH ('connector'='filesystem', 'path'='$dir/cdc',
         |        'format'='debezium-json');
         |$ddl
         |INSERT INTO plain_snk SELECT k, COUNT(*) AS n FROM src GROUP BY k;
         |INSERT INTO having_snk SELECT k, COUNT(*) AS n FROM src GROUP BY k
         |  HAVING COUNT(*) < 5;
         |INSERT INTO signed_snk SELECT k, COUNT(*) AS n FROM changes
         |  GROUP BY k""".stripMargin)
    assert(qs.size == 3)
    try {
      for (i <- 1L to 2L) {
        Seq(("a", i)).toDF("k", "v").write.mode("append")
          .parquet(s"$dir/src")
        Seq(s"""{"after":{"id":$i,"k":"a"},"op":"c","ts_ms":$i}""")
          .toDF("value").write.mode("append").text(s"$dir/cdc")
        qs.foreach(_.processAllAvailable())
        sinks.foreach { n =>
          val got = graft.changelog.UpsertSink.readTable(spark, s"$dir/$n")
            .as[(String, Long)].collect().toSeq.sorted
          assert(got == Seq(("a", i)), s"$n after batch $i: $got")
        }
      }
    } finally qs.foreach(_.stop())
  }

  test("UPDATE evaluates every assignment and the WHERE against the old " +
      "row, on a flat table and on a bucketed store") {
    import spark.implicits._
    import graft.changelog.{RowKind, UpsertSink}
    val dir = tmpDir()
    val rows = Seq((1L, 3L, 10L), (2L, 7L, 20L), (3L, 9L, 30L))
    // v = 0 must not hide the row from the WHERE for w = v, and w = v
    // reads the old v
    val want = Set((1L, 3L, 10L), (2L, 0L, 7L), (3L, 0L, 9L))
    def table(name: String, pk: String) =
      s"""CREATE TABLE $name (k BIGINT, v BIGINT, w BIGINT$pk)
         |  WITH ('connector'='filesystem', 'path'='$dir/$name',
         |        'format'='parquet')""".stripMargin
    val update = "UPDATE %s SET v = 0, w = v WHERE v > 5"
    val flat = FlinkDdl.run(spark,
      s"""${table("flat", "")};
         |INSERT INTO flat VALUES (1, 3, 10), (2, 7, 20), (3, 9, 30);
         |${update.format("flat")};
         |SELECT k, v, w FROM flat""".stripMargin)
      .as[(Long, Long, Long)].collect().toSet
    assert(flat == want, s"flat: $flat")
    UpsertSink.applyBatch(spark, s"$dir/bkt",
      rows.toDF("k", "v", "w")
        .withColumn(RowKind.kindCol, lit(RowKind.Insert))
        .withColumn(RowKind.seqCol, lit(1L)),
      Seq("k"), Some(4))
    FlinkDdl.runScript(spark,
      s"""${table("bkt", ", PRIMARY KEY (k) NOT ENFORCED")};
         |${update.format("bkt")}""".stripMargin)
    assert(UpsertSink.isBucketed(spark, s"$dir/bkt"))
    val bkt = UpsertSink.readTable(spark, s"$dir/bkt")
      .select("k", "v", "w").as[(Long, Long, Long)].collect().toSet
    assert(bkt == want, s"bucketed: $bkt")
  }

  test("runStreaming: a 'distribution-buckets' value that is not a " +
      "positive integer fails with a message naming the key and table") {
    val dir = tmpDir()
    new java.io.File(s"$dir/src").mkdirs()
    for (bad <- Seq("x", "0", "-3")) {
      val e = intercept[IllegalArgumentException](FlinkDdl.runStreaming(
        spark,
        s"""CREATE TABLE src (k STRING, v BIGINT)
           |  WITH ('connector'='filesystem', 'path'='$dir/src',
           |        'format'='parquet');
           |CREATE TABLE agg (k STRING, n BIGINT,
           |  PRIMARY KEY (k) NOT ENFORCED)
           |  WITH ('connector'='filesystem', 'path'='$dir/snk',
           |        'format'='parquet', 'distribution-buckets'='$bad');
           |INSERT INTO agg SELECT k, COUNT(*) AS n FROM src GROUP BY k
           |""".stripMargin).foreach(_.stop()))
      assert(e.getMessage.contains("'distribution-buckets'") &&
        e.getMessage.contains("agg") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    val e = intercept[IllegalArgumentException](FlinkDdl.runScript(spark,
      s"""CREATE TABLE t (k BIGINT)
         |  WITH ('connector'='filesystem', 'path'='$dir/t',
         |        'format'='parquet', 'distribution-buckets'='x');
         |INSERT INTO t VALUES (1)""".stripMargin))
    assert(e.getMessage.contains("'distribution-buckets'") &&
      e.getMessage.contains("table t"), e.getMessage)
  }
}
