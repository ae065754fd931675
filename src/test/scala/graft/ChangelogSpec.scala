package graft

import graft.changelog._
import graft.streaming.StateQuery
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Changelog-tier specs: streaming retraction emission and the CDC round
  * trip — applying an emitted changelog reproduces the batch answer
  * (VERDICT r2 gate). */
class ChangelogSpec extends SparkSpecBase {

  import spark.implicits._

  private lazy val eventRows: Seq[(Timestamp, Long, String, Double)] =
    Tables.events(spark, sf)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getAs[Timestamp](0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSeq

  test("streaming ChangelogAgg emits +I then balanced -U/+U pairs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cagg-").toString
    val q = ChangelogAgg(df, Seq("event_type"),
      Seq(AggSpec("n", "user_id", "count"), AggSpec("sv", "value", "sum")))
      .writeStream.format("memory").queryName("cl_agg")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // three micro-batches → at least three changes per key
      eventRows.grouped(400).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()

    val log = spark.table("cl_agg").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("__rowkind"),
        r.getAs[Long]("__seq"), r.getAs[Long]("n"), r.getAs[Double]("sv")))

    val byKey = log.groupBy(_._1)
    assert(byKey.nonEmpty)
    byKey.foreach { case (k, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.head._2 == RowKind.Insert, s"$k must start with +I")
      val kinds = sorted.tail.map(_._2)
      assert(kinds.grouped(2).forall(p =>
        p.length == 2 && p(0) == RowKind.UpdateBefore &&
          p(1) == RowKind.UpdateAfter),
        s"$k changes must be -U/+U pairs, got ${kinds.mkString(",")}")
    }

    // CDC round trip: materializing the changelog == the batch aggregate
    val materialized = UpsertMaterialize(spark.table("cl_agg"),
      Seq("event_type"))
      .select("event_type", "n", "sv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val batch = eventRows.toDF("ts", "user_id", "event_type", "value")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(materialized.map(t => (t._1, t._2)).sameElements(
      batch.map(t => (t._1, t._2))))
    materialized.lazyZip(batch).foreach { (m, b) =>
      assert(math.abs(m._3 - b._3) < 1e-6, s"sum mismatch for ${m._1}")
    }
  }

  test("streaming ChangelogNormalize matches batch replay across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // upsert feed: (key, value, seq, kind) — updates and deletes interleaved
    val feed = (1L to 50L).flatMap { k =>
      Seq((k, k * 10.0, 1L, RowKind.UpdateAfter),
        (k, k * 20.0, 2L, RowKind.UpdateAfter)) ++
        (if (k % 4 == 0) Seq((k, 0.0, 3L, RowKind.Delete)) else Nil)
    }

    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("k", "v", "__seq", "kind")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cnorm-").toString
    val q = ChangelogNormalize(df, Seq("k"), "kind", "__seq")
      .writeStream.format("memory").queryName("cl_norm")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // split mid-key so state crosses micro-batch boundaries
      val (a, b) = feed.splitAt(feed.length / 2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("cl_norm").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._3, t._4))
    val batch = ChangelogNormalize(
      feed.toDF("k", "v", "__seq", "kind"), Seq("k"), "kind", "__seq")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._3, t._4))
    assert(streamed.sameElements(batch))
    assert(streamed.nonEmpty)

    // round trip: materialize == survivors at their latest value
    val mat = UpsertMaterialize(spark.table("cl_norm"), Seq("k"))
      .select("k", "v").as[(Long, Double)].collect().sortBy(_._1)
    val expected = (1L to 50L).filterNot(_ % 4 == 0).map(k => (k, k * 20.0))
    assert(mat.sameElements(expected))
  }

  test("UpsertSink: streamed changelog materializes to the batch final state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = (1L to 40L).flatMap { k =>
      Seq((k, k * 10.0, 1L, RowKind.UpdateAfter),
        (k, k * 30.0, 2L, RowKind.UpdateAfter)) ++
        (if (k % 3 == 0) Seq((k, 0.0, 3L, RowKind.Delete)) else Nil)
    }
    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("k", "v", "__seq", "kind")
    val table = java.nio.file.Files.createTempDirectory("graft-upsert-")
      .toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upsert-ck-")
      .toString
    val q = UpsertSink.writeUpsert(
      ChangelogNormalize(df, Seq("k"), "kind", "__seq"),
      table, Seq("k"), ckpt)
    try {
      val (a, b) = feed.splitAt(feed.length / 2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(table)
      .select("k", "v").as[(Long, Double)].collect().sortBy(_._1)
    val expected = (1L to 40L).filterNot(_ % 3 == 0).map(k => (k, k * 30.0))
    assert(got.sameElements(expected))
  }

  test("streaming RetractingChangelogAgg consumes retractions, matches batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // per-key changelog: insert, update pair, and for k%3==0 a final
    // delete — the agg must consume -U/-D and emit its own changelog
    val feed = (1L to 12L).flatMap { k =>
      Seq(
        (k % 4, k * 10.0, 1000 * k + 1, RowKind.Insert),
        (k % 4, k * 10.0, 1000 * k + 2, RowKind.UpdateBefore),
        (k % 4, k * 20.0, 1000 * k + 3, RowKind.UpdateAfter)) ++
        (if (k % 3 == 0) Seq((k % 4, k * 20.0, 1000 * k + 4, RowKind.Delete))
         else Nil)
    }

    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("g", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ragg-").toString
    val q = RetractingChangelogAgg(df, Seq("g"), "v")
      .writeStream.format("memory").queryName("r_agg")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // three micro-batches, split mid-key so retractions cross batches
      feed.grouped(feed.length / 3 + 1).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("r_agg")
    // emission protocol: per key +I first, then -U/+U pairs (and -D only
    // if the key's live set empties — not the case for g = k%4 here)
    val byKey = streamed.collect()
      .map(r => (r.getLong(0), r.getString(5), r.getLong(6)))
      .groupBy(_._1)
    byKey.foreach { case (g, rows) =>
      val kinds = rows.sortBy(_._3).map(_._2)
      assert(kinds.head == RowKind.Insert, s"$g starts with ${kinds.head}")
      assert(kinds.tail.grouped(2).forall(p =>
        p.length == 2 && p(0) == RowKind.UpdateBefore &&
          p(1) == RowKind.UpdateAfter), s"$g kinds: ${kinds.mkString(",")}")
    }

    // materialized streaming output == batch face's materialized output
    // == direct aggregate of the live set
    val mat = UpsertMaterialize(streamed, Seq("g"))
      .select("g", "n_live", "sum_v", "min_v", "max_v")
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    val batchMat = UpsertMaterialize(
      RetractingChangelogAgg(
        feed.toDF("g", "v", RowKind.seqCol, RowKind.kindCol), Seq("g"), "v"),
      Seq("g"))
      .select("g", "n_live", "sum_v", "min_v", "max_v")
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(mat.nonEmpty)
    assert(mat.sameElements(batchMat))
    val live = (1L to 12L).filterNot(_ % 3 == 0)
      .map(k => (k % 4, k * 20.0)).groupBy(_._1)
    val direct = live.map { case (g, vs) =>
      (g, vs.size.toLong, vs.map(_._2).sum, vs.map(_._2).min, vs.map(_._2).max)
    }.toSeq.sortBy(_._1)
    assert(mat.toSeq == direct)
  }

  test("RetractingChangelogAgg idle TTL drops the accumulator") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("g", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cattl-").toString
    // TTL 400ms: the accumulator expires at ~400ms and state drops
    // completely; the processing-time seq base keeps post-expiry output
    // ordering after pre-expiry output however late the re-insert lands
    val q = RetractingChangelogAgg(df, Seq("g"), "v",
      idleTtlMs = Some(400L))
      .writeStream.format("memory").queryName("ca_ttl")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def eventually(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (!cond) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(100)
      }
    }
    try {
      input.addData(Seq((7L, 10.0, 1L, RowKind.Insert)))
      eventually("first emission") {
        spark.table("ca_ttl").where(col("g") === 7L).count() >= 1
      }
      // idle past the TTL; pending timers keep batches running, so the
      // accumulator for g=7 is dropped before the next event
      val b0 = q.lastProgress.batchId
      Thread.sleep(700)
      eventually("a timer batch") { q.lastProgress.batchId > b0 }
      input.addData(Seq((7L, 5.0, 2L, RowKind.Insert)))
      eventually("second emission") {
        spark.table("ca_ttl").where(col("g") === 7L).count() >= 2
      }
    } finally q.stop()
    val rows = spark.table("ca_ttl").where(col("g") === 7L)
      .select(col(RowKind.kindCol), col("n_live"), col("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // the aggregate RESTARTED: two independent +I emissions with n=1 —
    // not the -U/+U pair (n=2) an unexpired accumulator would produce
    assert(rows == Set((RowKind.Insert, 1L, 10.0), (RowKind.Insert, 1L, 5.0)),
      s"unexpected emissions: $rows")
    // the seq epoch survives expiry: the post-expiry +I carries a LARGER
    // __seq than the pre-expiry one, so keep-last materialization lands
    // on the post-expiry aggregate, not the stale one
    val seqs = spark.table("ca_ttl").where(col("g") === 7L)
      .select(col("sum_v"), col(RowKind.seqCol))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(seqs(5.0) > seqs(10.0),
      s"post-expiry seq ${seqs(5.0)} must beat pre-expiry ${seqs(10.0)}")
    val mat = UpsertMaterialize(spark.table("ca_ttl"), Seq("g"))
      .where(col("g") === 7L).select("sum_v")
      .as[Double].collect().toSeq
    assert(mat == Seq(5.0), s"keep-last must keep the post-expiry row: $mat")
  }

  test("RetractingChangelogAgg TTL bounds state cardinality; seq epoch " +
    "survives arbitrary silence") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // TTL must bound state CARDINALITY, not only accumulator size:
    // expiry drops the key's state COMPLETELY (numRowsTotal returns to
    // 0 — no tombstone row lingers). Ordering across the drop is owned
    // by the processing-time seq base instead: however long the key
    // stays silent past the TTL, the post-expiry emission still carries
    // a LARGER __seq than every pre-expiry one, so keep-last
    // materialization can never resurrect the stale aggregate. (The old
    // design kept a seq tombstone with a 4× grace and restarted the seq
    // domain after it dropped — a key silent for >5×TTL could then LOSE
    // keep-last to its own pre-expiry output; this test's Thread.sleep
    // sits far past that old window on purpose.)
    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("g", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cttl2-").toString
    val q = RetractingChangelogAgg(df, Seq("g"), "v",
      idleTtlMs = Some(150L))
      .writeStream.format("memory").queryName("ca_ttl2")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def eventually(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (!cond) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(100)
      }
    }
    try {
      input.addData(Seq((3L, 10.0, 1L, RowKind.Insert)))
      eventually("first emission") {
        spark.table("ca_ttl2").where(col("g") === 3L).count() >= 1
      }
      // expiry drops the whole state row (accumulator AND seq slot)
      eventually("state drop after expiry") {
        val p = q.lastProgress
        p != null && p.stateOperators.nonEmpty &&
          p.stateOperators(0).numRowsTotal == 0
      }
      Thread.sleep(1200) // ≫ 5×TTL: far beyond the old tombstone grace
      input.addData(Seq((3L, 5.0, 2L, RowKind.Insert)))
      eventually("second emission") {
        spark.table("ca_ttl2").where(col("g") === 3L).count() >= 2
      }
    } finally q.stop()
    val seqs = spark.table("ca_ttl2").where(col("g") === 3L)
      .select(col("sum_v"), col(RowKind.seqCol))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(seqs(5.0) > seqs(10.0),
      s"post-expiry seq must beat pre-expiry even after long silence: $seqs")
    val mat = UpsertMaterialize(spark.table("ca_ttl2"), Seq("g"))
      .where(col("g") === 3L).select("sum_v")
      .as[Double].collect().toSeq
    assert(mat == Seq(5.0), s"keep-last must keep the post-expiry row: $mat")
  }

  test("streaming RetractingChangelogAgg seqFromInput keeps the global domain") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("g", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rsq-").toString
    val q = RetractingChangelogAgg(df, Seq("g"), "v", seqFromInput = true)
      .writeStream.format("memory").queryName("r_seq")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData((1L, 5.0, 100L, RowKind.Insert)); q.processAllAvailable()
      input.addData((1L, 5.0, 200L, RowKind.UpdateBefore),
        (1L, 7.0, 200L, RowKind.UpdateAfter)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("r_seq").collect()
      .map(r => (r.getString(5), r.getLong(6))).sortBy(_._2)
    // batch 1 stamps from input seq 100, batch 2 from 200; output seqs
    // strictly increase and stay unique within the key
    assert(rows.map(_._2).distinct.length == rows.length)
    assert(rows.head._1 == RowKind.Insert)
    assert(rows.head._2 >= 400L && rows.last._2 >= 800L,
      s"seq domain not derived from input: $rows")
  }

  test("RetractingChangelogAgg emits -D when a key's live set empties") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double, Long, String)]
    val df = input.toDF().toDF("g", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rdel-").toString
    val q = RetractingChangelogAgg(df, Seq("g"), "v")
      .writeStream.format("memory").queryName("r_del")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData((1L, 5.0, 1L, RowKind.Insert)); q.processAllAvailable()
      input.addData((1L, 5.0, 2L, RowKind.Delete)); q.processAllAvailable()
    } finally q.stop()
    val kinds = spark.table("r_del").collect()
      .map(r => (r.getString(5), r.getLong(6))).sortBy(_._2).map(_._1)
    assert(kinds.toSeq == Seq(RowKind.Insert, RowKind.Delete))
    assert(UpsertMaterialize(spark.table("r_del"), Seq("g")).count() == 0)
  }

  test("streaming ChangelogJoin consumes retractions from both sides") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // left: items keyed by lk joining on ljk; right: dims keyed by rk on
    // rjk. One global seq domain. Updates move values; deletes on both
    // sides; one left item MOVES join key (the -U must kill the old
    // group's pairings).
    val leftFeed = Seq(
      // (lk, ljk, v, seq, kind)
      (1L, 100L, 10.0, 1L, RowKind.Insert),
      (2L, 100L, 20.0, 2L, RowKind.Insert),
      (3L, 200L, 30.0, 3L, RowKind.Insert),
      // lk=2 moves join key 100 -> 200
      (2L, 100L, 20.0, 6L, RowKind.UpdateBefore),
      (2L, 200L, 25.0, 6L, RowKind.UpdateAfter),
      // lk=1 value update in place
      (1L, 100L, 11.0, 7L, RowKind.UpdateBefore),
      (1L, 100L, 11.0, 7L, RowKind.UpdateAfter),
      // lk=3 deleted
      (3L, 200L, 30.0, 9L, RowKind.Delete))
    val rightFeed = Seq(
      // (rk, rjk, w, seq, kind)
      (7L, 100L, 1.5, 4L, RowKind.Insert),
      (8L, 200L, 2.5, 5L, RowKind.Insert),
      (9L, 200L, 3.5, 8L, RowKind.Insert),
      // rk=8 deleted
      (8L, 200L, 2.5, 10L, RowKind.Delete))

    val lIn = MemoryStream[(Long, Long, Double, Long, String)]
    val rIn = MemoryStream[(Long, Long, Double, Long, String)]
    val lDf = lIn.toDF().toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol)
    val rDf = rIn.toDF().toDF("rk", "rjk", "w", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cjoin-").toString
    val q = ChangelogJoin(lDf, rDf, "ljk", "rjk", "lk", "rk")
      .writeStream.format("memory").queryName("cl_join")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // batch 1: initial inserts; batch 2: updates/moves; batch 3: deletes
      lIn.addData(leftFeed.take(3)); rIn.addData(rightFeed.take(2))
      q.processAllAvailable()
      lIn.addData(leftFeed.slice(3, 7)); rIn.addData(rightFeed.slice(2, 3))
      q.processAllAvailable()
      lIn.addData(leftFeed.drop(7)); rIn.addData(rightFeed.drop(3))
      q.processAllAvailable()
    } finally q.stop()

    val streamedMat = UpsertMaterialize(spark.table("cl_join"), Seq("lk", "rk"))
      .select("lk", "ljk", "v", "rk", "rjk", "w")
      .as[(Long, Long, Double, Long, Long, Double)].collect().sortBy(r => (r._1, r._4))

    // batch face over the same feeds
    val batchMat = UpsertMaterialize(
      ChangelogJoin(
        leftFeed.toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol),
        rightFeed.toDF("rk", "rjk", "w", RowKind.seqCol, RowKind.kindCol),
        "ljk", "rjk", "lk", "rk"),
      Seq("lk", "rk"))
      .select("lk", "ljk", "v", "rk", "rjk", "w")
      .as[(Long, Long, Double, Long, Long, Double)].collect().sortBy(r => (r._1, r._4))

    // final states: left = {1->(100,11.0), 2->(200,25.0)},
    // right = {7->(100,1.5), 9->(200,3.5)} => pairings (1,7), (2,9)
    val expected = Seq(
      (1L, 100L, 11.0, 7L, 100L, 1.5),
      (2L, 200L, 25.0, 9L, 200L, 3.5))
    assert(streamedMat.toSeq == expected)
    assert(batchMat.toSeq == expected)

    // every emitted retraction (-D) must kill a previously emitted pairing
    val log = spark.table("cl_join").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getString(6), r.getLong(7)))
    val deletes = log.filter(_._3 == RowKind.Delete)
    assert(deletes.nonEmpty)
    deletes.foreach { case (lk, rk, _, seq) =>
      assert(log.exists(e => e._1 == lk && e._2 == rk &&
        e._3 == RowKind.UpdateAfter && e._4 < seq),
        s"dangling -D for ($lk,$rk)")
    }
  }

  test("streaming left-outer ChangelogJoin pads, retracts, and re-pads") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, Double, Long, String)]
    val rIn = MemoryStream[(Long, Long, Double, Long, String)]
    val lDf = lIn.toDF().toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol)
    val rDf = rIn.toDF().toDF("rk", "rjk", "w", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cjl-").toString
    val q = ChangelogJoin(lDf, rDf, "ljk", "rjk", "lk", "rk", "left")
      .writeStream.format("memory").queryName("cl_left")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // batch 1: left alone -> padded row
      lIn.addData((1L, 100L, 10.0, 1L, RowKind.Insert))
      q.processAllAvailable()
      // batch 2: match appears -> padding retracted, pairing emitted
      rIn.addData((7L, 100L, 1.5, 2L, RowKind.Insert))
      q.processAllAvailable()
      // batch 3: match dies -> pairing retracted, padding returns
      rIn.addData((7L, 100L, 1.5, 3L, RowKind.Delete))
      q.processAllAvailable()
    } finally q.stop()
    val log = spark.table("cl_left").collect()
      .map(r => (Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getString(6), r.getLong(7))).sortBy(_._3)
    // padded(+U) -> padded(-D), pair(+U) -> pair(-D), padded(+U)
    assert(log.map(t => (t._1, t._2)).toSeq == Seq(
      (None, RowKind.UpdateAfter),
      (None, RowKind.Delete), (Some(7L), RowKind.UpdateAfter),
      (Some(7L), RowKind.Delete), (None, RowKind.UpdateAfter)))
    val mat = UpsertMaterialize(spark.table("cl_left"), Seq("lk", "rk"))
      .select("lk", "rk").collect()
      .map(r => (r.getLong(0), Option(r.get(1))))
    assert(mat.toSeq == Seq((1L, None)))
  }

  test("streaming ChangelogJoin nets out intra-batch churn per pairing") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // BOTH sides derive from ONE MemoryStream (side tag + filter) so
    // each addData is atomically one micro-batch across the two inputs —
    // two independent streams would let the eager trigger split a batch
    // between the addData calls and the intra-batch fold under test
    // would (correctly) not apply
    val in = MemoryStream[(String, Long, Long, Double, Long, String)]
    val all = in.toDF()
      .toDF("side", "k", "jk", "x", RowKind.seqCol, RowKind.kindCol)
    val lDf = all.where(col("side") === "l").select(
      col("k").as("lk"), col("jk").as("ljk"), col("x").as("v"),
      col(RowKind.seqCol), col(RowKind.kindCol))
    val rDf = all.where(col("side") === "r").select(
      col("k").as("rk"), col("jk").as("rjk"), col("x").as("w"),
      col(RowKind.seqCol), col(RowKind.kindCol))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cjnet-").toString
    val q = ChangelogJoin(lDf, rDf, "ljk", "rjk", "lk", "rk", "left")
      .writeStream.format("memory").queryName("cl_net")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def logRows() = spark.table("cl_net").collect()
      .map(r => (Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getDouble(2), r.getString(6), r.getLong(7))).sortBy(_._4)
    try {
      // batch 1: the left row and its match arrive in ONE batch — the
      // outer pad is born and retracted inside the batch and must never
      // be emitted (ref MiniBatchStreamingJoinOperator.java:234, the
      // minibatch fold): net output is exactly one +U pairing row
      in.addData(
        ("l", 1L, 100L, 10.0, 1L, RowKind.Insert),
        ("r", 7L, 100L, 1.5, 2L, RowKind.Insert))
      q.processAllAvailable()
      val b1 = logRows()
      assert(b1.toSeq == Seq((Some(7L), 10.0, RowKind.UpdateAfter, 5L)),
        s"intra-batch pad churn must fold away, got ${b1.toSeq}")
      // batch 2: an update CHAIN in one batch (10 -> 11 -> 12) nets to
      // one -D of the pre-batch image + one +U of the final image — the
      // intermediate 11.0 never reaches the output
      in.addData(
        ("l", 1L, 100L, 10.0, 3L, RowKind.UpdateBefore),
        ("l", 1L, 100L, 11.0, 3L, RowKind.UpdateAfter),
        ("l", 1L, 100L, 11.0, 4L, RowKind.UpdateBefore),
        ("l", 1L, 100L, 12.0, 4L, RowKind.UpdateAfter))
      q.processAllAvailable()
      val b2 = logRows().drop(1)
      assert(b2.toSeq == Seq(
        (Some(7L), 10.0, RowKind.Delete, 8L),
        (Some(7L), 12.0, RowKind.UpdateAfter, 9L)),
        s"an update chain must net to its endpoints, got ${b2.toSeq}")
      // batch 3: both sides die in one batch — net is the pairing's -D
      // only (no transient re-pad of the left row)
      in.addData(
        ("l", 1L, 100L, 12.0, 5L, RowKind.Delete),
        ("r", 7L, 100L, 1.5, 6L, RowKind.Delete))
      q.processAllAvailable()
      val b3 = logRows().drop(3)
      assert(b3.toSeq == Seq((Some(7L), 12.0, RowKind.Delete, 10L)),
        s"a same-batch double delete must net to one -D, got ${b3.toSeq}")
    } finally q.stop()
    assert(UpsertMaterialize(spark.table("cl_net"), Seq("lk", "rk"))
      .count() == 0)
  }

  test("streaming ChangelogSemiJoin flips key groups on right-side changes") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // left: items on join keys 100/200; right: dims appearing LATE and
    // being deleted — the 0↔1 transitions must flip held left rows
    val leftFeed = Seq(
      (1L, 100L, 10.0, 1L, RowKind.Insert),
      (2L, 100L, 20.0, 2L, RowKind.Insert),
      (3L, 200L, 30.0, 3L, RowKind.Insert))
    val rightFeed = Seq(
      (7L, 100L, 4L, RowKind.Insert), // flips key 100 in (semi)
      (8L, 200L, 5L, RowKind.Insert),
      (8L, 200L, 6L, RowKind.Delete)) // flips key 200 back out
    val lIn = MemoryStream[(Long, Long, Double, Long, String)]
    val rIn = MemoryStream[(Long, Long, Long, String)]
    val lDf = lIn.toDF().toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol)
    val rDf = rIn.toDF().toDF("rk", "rjk", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-csemi-").toString
    val q = ChangelogSemiJoin(lDf, rDf, "ljk", "rjk", "rk", anti = false)
      .writeStream.format("memory").queryName("c_semi")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      lIn.addData(leftFeed); q.processAllAvailable()
      rIn.addData(rightFeed.take(2)); q.processAllAvailable()
      rIn.addData(rightFeed.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("c_semi")
    // key 200 was emitted then retracted across batches
    assert(streamed.where(col(RowKind.kindCol) === RowKind.Delete)
      .count() > 0, "no flip retraction emitted")
    val mat = UpsertMaterialize(streamed, Seq("lk"))
      .select("lk", "v").as[(Long, Double)].collect().toSet
    assert(mat == Set((1L, 10.0), (2L, 20.0)), s"semi mismatch: $mat")
    // batch face parity on the same feeds
    val batchMat = UpsertMaterialize(
      ChangelogSemiJoin(
        leftFeed.toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol),
        rightFeed.toDF("rk", "rjk", RowKind.seqCol, RowKind.kindCol),
        "ljk", "rjk", "rk", anti = false),
      Seq("lk")).select("lk", "v").as[(Long, Double)].collect().toSet
    assert(batchMat == mat)
    // anti inverse on the batch face
    val antiMat = UpsertMaterialize(
      ChangelogSemiJoin(
        leftFeed.toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol),
        rightFeed.toDF("rk", "rjk", RowKind.seqCol, RowKind.kindCol),
        "ljk", "rjk", "rk", anti = true),
      Seq("lk")).select("lk", "v").as[(Long, Double)].collect().toSet
    assert(antiMat == Set((3L, 30.0)), s"anti mismatch: $antiMat")
  }

  test("ChangelogSemiJoin left key-move keeps the live row under keep-last") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // left row 1 moves join key 100 → 200 via a -U/+U pair sharing input
    // seq 5; BOTH groups have a live right row, so the move emits -D in
    // the old key group and +I in the new one. Output seqs must be on one
    // global domain (2·seq+krank) — a per-group counter can order the -D
    // after the +I and keep-last by lk would drop the live row.
    val leftFeed = Seq(
      (1L, 100L, 10.0, 1L, RowKind.Insert),
      (1L, 100L, 10.0, 5L, RowKind.UpdateBefore),
      (1L, 200L, 10.0, 5L, RowKind.UpdateAfter))
    val rightFeed = Seq(
      (7L, 100L, 2L, RowKind.Insert),
      (8L, 200L, 3L, RowKind.Insert))
    val lDf = leftFeed.toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol)
    val rDf = rightFeed.toDF("rk", "rjk", RowKind.seqCol, RowKind.kindCol)
    val out = ChangelogSemiJoin(lDf, rDf, "ljk", "rjk", "rk", anti = false)
    // the old group's -D must carry a globally smaller seq than the new
    // group's +I (they are emitted by different key groups)
    val byKind = out.collect()
      .map(r => (r.getString(3), r.getLong(1), r.getLong(4)))
    val dSeq = byKind.collect { case (k, 100L, s) if k == RowKind.Delete => s }
    val iSeq = byKind.collect { case (k, 200L, s) if k == RowKind.Insert => s }
    assert(dSeq.nonEmpty && iSeq.nonEmpty, s"missing flip rows: ${byKind.toSeq}")
    assert(dSeq.max < iSeq.max,
      s"key-move -D seq ${dSeq.max} not before +I seq ${iSeq.max}")
    val mat = UpsertMaterialize(out, Seq("lk"))
      .select("lk", "ljk").as[(Long, Long)].collect().toSet
    assert(mat == Set((1L, 200L)), s"semi key-move mismatch: $mat")
    // anti inverse: both groups occupied → no live anti rows
    val antiMat = UpsertMaterialize(
      ChangelogSemiJoin(lDf, rDf, "ljk", "rjk", "rk", anti = true),
      Seq("lk")).select("lk", "ljk").as[(Long, Long)].collect().toSet
    assert(antiMat.isEmpty, s"anti key-move mismatch: $antiMat")
    // streaming face: the key-move pair arrives a batch after the inserts
    val lIn = MemoryStream[(Long, Long, Double, Long, String)]
    val rIn = MemoryStream[(Long, Long, Long, String)]
    val lS = lIn.toDF().toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol)
    val rS = rIn.toDF().toDF("rk", "rjk", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckm-").toString
    val q = ChangelogSemiJoin(lS, rS, "ljk", "rjk", "rk", anti = false)
      .writeStream.format("memory").queryName("c_semi_km")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      lIn.addData(leftFeed.take(1)); rIn.addData(rightFeed)
      q.processAllAvailable()
      lIn.addData(leftFeed.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val sMat = UpsertMaterialize(spark.table("c_semi_km"), Seq("lk"))
      .select("lk", "ljk").as[(Long, Long)].collect().toSet
    assert(sMat == Set((1L, 200L)), s"streaming key-move mismatch: $sMat")
  }

  test("ChangelogMultiJoin: 3-way star in ONE stateful operator") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // star on jk=100/200: two live c rows under 100 (multiplicity), a
    // delete on each of o and c (cross-product retraction walk)
    val oFeed = Seq(
      (1L, 100L, 10.0, 1L, RowKind.Insert),
      (2L, 100L, 20.0, 2L, RowKind.Insert),
      (3L, 200L, 30.0, 3L, RowKind.Insert),
      (2L, 100L, 20.0, 8L, RowKind.Delete))
    val cFeed = Seq(
      (7L, 100L, 4L, RowKind.Insert),
      (9L, 100L, 5L, RowKind.Insert),
      (8L, 200L, 6L, RowKind.Insert),
      (8L, 200L, 9L, RowKind.Delete))
    val aFeed = Seq((11L, 100L, 7L, RowKind.Insert))
    val o = oFeed.toDF("o_id", "o_jk", "o_v", RowKind.seqCol, RowKind.kindCol)
    val c = cFeed.toDF("c_id", "c_jk", RowKind.seqCol, RowKind.kindCol)
    val a = aFeed.toDF("a_id", "a_jk", RowKind.seqCol, RowKind.kindCol)
    val multi = ChangelogMultiJoin(Seq(o -> "o_jk", c -> "c_jk", a -> "a_jk"))
    // o2's delete must retract BOTH its (c7, a11) and (c9, a11) combos
    val retracted = multi.where(col(RowKind.kindCol) === RowKind.Delete &&
      col("o_id") === 2L).select("c_id").as[Long].collect().toSeq.sorted
    assert(retracted == Seq(7L, 9L), s"retraction walk: $retracted")
    val mat = UpsertMaterialize(multi, Seq("o_id", "c_id", "a_id"))
      .select("o_id", "c_id", "a_id").as[(Long, Long, Long)]
      .collect().toSet
    // final live states: o {1@100, 3@200}, c {7@100, 9@100}, a {11@100}
    assert(mat == Set((1L, 7L, 11L), (1L, 9L, 11L)), s"nary mismatch: $mat")

    // streaming face: the 3-way join is ONE FlatMapGroupsWithState —
    // state is per-INPUT live rows, no orders⋈customer intermediate (a
    // binary chain plans two stateful joins plus a re-normalize between)
    val oIn = MemoryStream[(Long, Long, Double, Long, String)]
    val cIn = MemoryStream[(Long, Long, Long, String)]
    val aIn = MemoryStream[(Long, Long, Long, String)]
    val sMulti = ChangelogMultiJoin(Seq(
      oIn.toDF().toDF("o_id", "o_jk", "o_v", RowKind.seqCol, RowKind.kindCol)
        -> "o_jk",
      cIn.toDF().toDF("c_id", "c_jk", RowKind.seqCol, RowKind.kindCol)
        -> "c_jk",
      aIn.toDF().toDF("a_id", "a_jk", RowKind.seqCol, RowKind.kindCol)
        -> "a_jk"))
    val nStateful = sMulti.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical
          .FlatMapGroupsWithState => f
    }.size
    assert(nStateful == 1, s"expected 1 stateful operator, got $nStateful")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cnary-").toString
    val q = sMulti.writeStream.format("memory").queryName("c_nary")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      oIn.addData(oFeed.take(3)); cIn.addData(cFeed.take(2))
      q.processAllAvailable()
      aIn.addData(aFeed); cIn.addData(cFeed.drop(2))
      q.processAllAvailable()
      oIn.addData(oFeed.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val sMat = UpsertMaterialize(spark.table("c_nary"),
      Seq("o_id", "c_id", "a_id"))
      .select("o_id", "c_id", "a_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(sMat == mat, s"streaming/batch parity: $sMat vs $mat")
  }

  test("ChangelogMultiJoin.chain: per-pair keys, ONE stateful operator") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // chain A—B on k1, B—C on k2 (two DIFFERENT b columns → no common
    // key); deletes on every side exercise both link keys
    val aFeed = Seq(
      (1L, 100L, 1L, RowKind.Insert),
      (2L, 200L, 2L, RowKind.Insert),
      (2L, 200L, 30L, RowKind.Delete))
    val bFeed = Seq(
      (11L, 100L, 77L, 3L, RowKind.Insert),
      (12L, 100L, 88L, 4L, RowKind.Insert),
      (13L, 200L, 77L, 5L, RowKind.Insert))
    val cFeed = Seq(
      (21L, 77L, 0.5, 6L, RowKind.Insert),
      (22L, 88L, 1.5, 7L, RowKind.Insert),
      (23L, 77L, 2.5, 8L, RowKind.Insert),
      (21L, 77L, 0.5, 31L, RowKind.Delete))
    val a = aFeed.toDF("a_id", "a_k1", RowKind.seqCol, RowKind.kindCol)
    val b = bFeed.toDF("b_id", "b_k1", "b_k2", RowKind.seqCol, RowKind.kindCol)
    val c = cFeed.toDF("c_id", "c_k2", "c_v", RowKind.seqCol, RowKind.kindCol)
    val conds = Map(
      1 -> Seq(ChangelogMultiJoin.ChainCond(0, "a_k1", "b_k1")),
      2 -> Seq(ChangelogMultiJoin.ChainCond(1, "b_k2", "c_k2")))
    val multi = ChangelogMultiJoin.chain(Seq(a, b, c), conds)
    // a2's delete must retract its (b13, c21) and (b13, c23) combos
    val retracted = multi.where(col(RowKind.kindCol) === RowKind.Delete &&
      col("a_id") === 2L).select("c_id").as[Long].collect().toSeq.sorted
    assert(retracted == Seq(21L, 23L), s"retraction walk: $retracted")
    val mat = UpsertMaterialize(multi, Seq("a_id", "b_id", "c_id"))
      .select("a_id", "b_id", "c_id").as[(Long, Long, Long)]
      .collect().toSet
    // final live: a{1@100}, b{11:(100,77), 12:(100,88), 13:(200,77)},
    // c{22@88, 23@77}; a1—b11—c23, a1—b12—c22 (c21 deleted, a2 deleted)
    assert(mat == Set((1L, 11L, 23L), (1L, 12L, 22L)),
      s"chain mismatch: $mat")

    // a retract that was never inserted is skipped, not a phantom -D
    val phantom = ChangelogMultiJoin.chain(Seq(
      Seq((9L, 100L, 40L, RowKind.Delete))
        .toDF("a_id", "a_k1", RowKind.seqCol, RowKind.kindCol),
      b, c), conds)
      .where(col("a_id") === 9L).count()
    assert(phantom == 0L, "phantom delete must not emit")

    // streaming face: ONE FlatMapGroupsWithState, batch parity
    val aIn = MemoryStream[(Long, Long, Long, String)]
    val bIn = MemoryStream[(Long, Long, Long, Long, String)]
    val cIn = MemoryStream[(Long, Long, Double, Long, String)]
    val sMulti = ChangelogMultiJoin.chain(Seq(
      aIn.toDF().toDF("a_id", "a_k1", RowKind.seqCol, RowKind.kindCol),
      bIn.toDF().toDF("b_id", "b_k1", "b_k2", RowKind.seqCol, RowKind.kindCol),
      cIn.toDF().toDF("c_id", "c_k2", "c_v", RowKind.seqCol, RowKind.kindCol)),
      conds)
    val nStateful = sMulti.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical
          .FlatMapGroupsWithState => f
    }.size
    assert(nStateful == 1, s"expected 1 stateful operator, got $nStateful")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chain-").toString
    val q = sMulti.writeStream.format("memory").queryName("c_chain")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      aIn.addData(aFeed.take(2)); bIn.addData(bFeed.take(2))
      q.processAllAvailable()
      cIn.addData(cFeed.take(3)); bIn.addData(bFeed.drop(2))
      q.processAllAvailable()
      aIn.addData(aFeed.drop(2)); cIn.addData(cFeed.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    val sMat = UpsertMaterialize(spark.table("c_chain"),
      Seq("a_id", "b_id", "c_id"))
      .select("a_id", "b_id", "c_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(sMat == mat, s"streaming/batch parity: $sMat vs $mat")
  }

  test("ChangelogMultiJoin residual condition: triangle join graph") {
    // TRIANGLE shape — a—b on a_k=b_k, b—c on b_k2=c_k2, PLUS the
    // non-tree edge a—c on a_tag=c_tag. The BFS visit plan takes a—b and
    // b—c as tree edges and applies a—c as a probe-time RESIDUAL
    // (AttributeBasedJoinKeyExtractor's joinAttributeMap case with a
    // ConditionAttributeRef to an earlier, non-via input). No attribute
    // class touches all three inputs, so this also runs on the
    // empty-common-key fallback. Both trigger directions cross the
    // residual: a c-side event visits a THROUGH b and filters on a_tag;
    // an a-side event binds a_tag before visiting c.
    val a = Seq(
      (1L, 100L, "x", 1L, RowKind.Insert),
      (2L, 100L, "y", 2L, RowKind.Insert))
      .toDF("a_id", "a_k", "a_tag", RowKind.seqCol, RowKind.kindCol)
    val b = Seq((11L, 100L, 77L, 3L, RowKind.Insert))
      .toDF("b_id", "b_k", "b_k2", RowKind.seqCol, RowKind.kindCol)
    val c = Seq(
      (21L, 77L, "x", 4L, RowKind.Insert),
      (22L, 77L, "y", 5L, RowKind.Insert),
      (22L, 77L, "y", 6L, RowKind.Delete),   // a2 loses its match…
      (23L, 77L, "y", 7L, RowKind.Insert))   // …and regains it via c23
      .toDF("c_id", "c_k2", "c_tag", RowKind.seqCol, RowKind.kindCol)
    val conds = Map(
      1 -> Seq(ChangelogMultiJoin.ChainCond(0, "a_k", "b_k")),
      2 -> Seq(
        ChangelogMultiJoin.ChainCond(1, "b_k2", "c_k2"),
        ChangelogMultiJoin.ChainCond(0, "a_tag", "c_tag")))
    val out = ChangelogMultiJoin.chain(Seq(a, b, c), conds)
    // c22's delete must retract exactly the (a2, b11, c22) combo — the
    // residual prunes (a1, b11, c22) from ever existing
    val retracted = out.where(col(RowKind.kindCol) === RowKind.Delete)
      .select("a_id", "c_id").as[(Long, Long)].collect().toSeq
    assert(retracted == Seq((2L, 22L)), s"residual retraction: $retracted")
    val mat = UpsertMaterialize(out, Seq("a_id", "b_id", "c_id"))
      .select("a_id", "b_id", "c_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(mat == Set((1L, 11L, 21L), (2L, 11L, 23L)),
      s"triangle mismatch: $mat")
  }

  test("ChangelogMultiJoin idle TTL drops per-input state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the reference's STATE_TTL hint surface on the multi-join
    // (JoinToMultiJoinRule.handleStateTtlHintsForInput): after the idle
    // window, a key group's per-input live rows are gone — a new right
    // row finds no left match, where unexpired state would have joined
    val aIn = MemoryStream[(Long, Long, Long, String)]
    val bIn = MemoryStream[(Long, Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mjttl-").toString
    val out = ChangelogMultiJoin(Seq(
      aIn.toDF().toDF("a_id", "a_jk", RowKind.seqCol, RowKind.kindCol)
        -> "a_jk",
      bIn.toDF().toDF("b_id", "b_jk", RowKind.seqCol, RowKind.kindCol)
        -> "b_jk"),
      idleTtlMs = Some(400L))
    val q = out.writeStream.format("memory").queryName("mj_ttl")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def eventually(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (!cond) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(100)
      }
    }
    try {
      aIn.addData(Seq((1L, 100L, 1L, RowKind.Insert)))
      bIn.addData(Seq((11L, 100L, 2L, RowKind.Insert)))
      eventually("pre-expiry join") {
        spark.table("mj_ttl").count() >= 1
      }
      val b0 = q.lastProgress.batchId
      Thread.sleep(700)
      eventually("a timer batch") { q.lastProgress.batchId > b0 }
      // post-expiry: b12 under the same key joins NOTHING (a1 expired).
      // processAllAvailable can park behind the re-armed processing-time
      // timer, so wait on batch progress instead (the agg TTL pattern)
      val b1 = q.lastProgress.batchId
      bIn.addData(Seq((12L, 100L, 3L, RowKind.Insert)))
      eventually("post-TTL batch") { q.lastProgress.batchId > b1 + 1 }
    } finally q.stop()
    val joined = spark.table("mj_ttl")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(joined == Set((1L, 11L)),
      s"expired left row must not join the post-TTL insert: $joined")
  }

  test("ChangelogMultiJoin.chain typed: LEFT pad flips across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // A LEFT B on jk: b11 arrives in a LATER micro-batch than a1 (the pad
    // retract crosses a batch boundary) and is deleted in a third (the
    // re-pad crosses another) — the reference's pad-transition walkthrough
    // (StreamingMultiJoinOperator.java:146) replayed across batches
    val aFeed = Seq(
      (1L, 100L, 1L, RowKind.Insert),
      (2L, 200L, 2L, RowKind.Insert))
    val bFeed = Seq(
      (11L, 100L, 3L, RowKind.Insert),
      (11L, 100L, 9L, RowKind.Delete))
    val conds = Map(1 -> Seq(ChangelogMultiJoin.ChainCond(0, "a_jk", "b_jk")))
    val types = Seq("inner", "left")
    val a = aFeed.toDF("a_id", "a_jk", RowKind.seqCol, RowKind.kindCol)
    val b = bFeed.toDF("b_id", "b_jk", RowKind.seqCol, RowKind.kindCol)
    val batchOut = ChangelogMultiJoin.chain(Seq(a, b), conds, types)
    val batchMat = UpsertMaterialize(batchOut, Seq("a_id", "b_id"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    // b11 deleted at the end: both a rows end padded
    assert(batchMat == Set((1L, None), (2L, None)), s"batch: $batchMat")

    val aIn = MemoryStream[(Long, Long, Long, String)]
    val bIn = MemoryStream[(Long, Long, Long, String)]
    val sOut = ChangelogMultiJoin.chain(Seq(
      aIn.toDF().toDF("a_id", "a_jk", RowKind.seqCol, RowKind.kindCol),
      bIn.toDF().toDF("b_id", "b_jk", RowKind.seqCol, RowKind.kindCol)),
      conds, types)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tchain-").toString
    val q = sOut.writeStream.format("memory").queryName("c_tchain")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      aIn.addData(aFeed); q.processAllAvailable()      // pads emitted
      bIn.addData(bFeed.take(1)); q.processAllAvailable() // flip for a1
      bIn.addData(bFeed.drop(1)); q.processAllAvailable() // re-pad for a1
    } finally q.stop()
    val log = spark.table("c_tchain")
      .select("a_id", "b_id", RowKind.kindCol, RowKind.seqCol)
      .collect().map(r => (r.getLong(0), Option(r.get(1)),
        r.getString(2), r.getLong(3))).toSeq.sortBy(_._4)
    // a1's history: +I pad, (-D pad, +I matched) at the flip,
    // (-D matched, +I pad) at the delete
    val a1 = log.filter(_._1 == 1L).map(e => (e._2, e._3))
    assert(a1 == Seq(
      (None, RowKind.Insert),
      (None, RowKind.Delete), (Some(11L): Option[Any], RowKind.Insert),
      (Some(11L): Option[Any], RowKind.Delete), (None, RowKind.Insert)),
      s"a1 pad-flip history: $a1")
    val sMat = UpsertMaterialize(spark.table("c_tchain"), Seq("a_id", "b_id"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(sMat == batchMat, s"streaming/batch parity: $sMat vs $batchMat")
  }

  test("ChangelogMultiJoin.chain: common key found by union-find keys the shuffle") {
    // star-shaped conds (one transitive attribute class touching every
    // input) must partition on the class attribute — the single-key-group
    // fallback (lit(0) AS __jk) is only for true chains
    val a = Seq((1L, 100L, 1L, RowKind.Insert))
      .toDF("a_id", "a_k", RowKind.seqCol, RowKind.kindCol)
    val b = Seq((11L, 100L, 2L, RowKind.Insert))
      .toDF("b_id", "b_k", RowKind.seqCol, RowKind.kindCol)
    val c = Seq((21L, 100L, 3L, RowKind.Insert))
      .toDF("c_id", "c_k", RowKind.seqCol, RowKind.kindCol)
    val star = ChangelogMultiJoin.chain(Seq(a, b, c), Map(
      1 -> Seq(ChangelogMultiJoin.ChainCond(0, "a_k", "b_k")),
      2 -> Seq(ChangelogMultiJoin.ChainCond(1, "b_k", "c_k"))))
    // b_k joins both a_k and c_k -> one class {a_k, b_k, c_k} -> common
    assert(!star.queryExecution.analyzed.toString.contains("0 AS __jk"),
      "star conds must shuffle on the common key, not one group")
    assert(star.select("a_id", "b_id", "c_id").as[(Long, Long, Long)]
      .collect().toSet == Set((1L, 11L, 21L)))

    // true chain (two classes, neither touches every input) -> fallback
    val b2 = Seq((11L, 100L, 7L, 2L, RowKind.Insert))
      .toDF("b_id", "b_k1", "b_k2", RowKind.seqCol, RowKind.kindCol)
    val c2 = Seq((21L, 7L, 3L, RowKind.Insert))
      .toDF("c_id", "c_k2", RowKind.seqCol, RowKind.kindCol)
    val chain = ChangelogMultiJoin.chain(Seq(a, b2, c2), Map(
      1 -> Seq(ChangelogMultiJoin.ChainCond(0, "a_k", "b_k1")),
      2 -> Seq(ChangelogMultiJoin.ChainCond(1, "b_k2", "c_k2"))))
    assert(chain.queryExecution.analyzed.toString.contains("0 AS __jk"),
      "a keyless chain must fall back to one key group")
  }

  test("streaming ChangelogTopN re-ranks on retractions, matches batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one partition 'p': inserts build a leaderboard, then the leader's
    // value drops (demotion), then the new leader is deleted (promotion
    // of the row below) — every re-rank crosses a batch boundary
    val feed = Seq(
      ("p", 1L, 50.0, 1L, RowKind.Insert),
      ("p", 2L, 40.0, 2L, RowKind.Insert),
      ("p", 3L, 30.0, 3L, RowKind.Insert),
      ("p", 4L, 20.0, 4L, RowKind.Insert),
      // leader 1 drops to 25 → order becomes 2,3,1
      ("p", 1L, 50.0, 5L, RowKind.UpdateBefore),
      ("p", 1L, 25.0, 5L, RowKind.UpdateAfter),
      // new leader 2 deleted → 3,1,4 (4 promoted into the top 3)
      ("p", 2L, 40.0, 6L, RowKind.Delete))
    val input = MemoryStream[(String, Long, Double, Long, String)]
    val df = input.toDF()
      .toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ctopn-").toString
    val q = ChangelogTopN(df, Seq("pk"), "uk", "v", 3)
      .writeStream.format("memory").queryName("c_topn")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      Seq(feed.take(4), feed.slice(4, 6), feed.drop(6)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("c_topn")
    // raw changelog must contain real retractions (demotion + deletion)
    val kinds = streamed.select(col(RowKind.kindCol)).as[String]
      .collect().toSet
    assert(kinds.contains(RowKind.UpdateBefore) &&
      kinds.contains(RowKind.UpdateAfter), s"no retraction pairs: $kinds")
    // materialized: rank 1..3 = uk 3 (30), 1 (25), 4 (20)
    val mat = UpsertMaterialize(streamed, Seq("pk", "rank"))
      .select("rank", "uk", "v").as[(Int, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(mat == Seq((1, 3L, 30.0), (2, 1L, 25.0), (3, 4L, 20.0)),
      s"unexpected final top-3: $mat")
    // batch face over the same feed materializes identically
    val batchMat = UpsertMaterialize(
      ChangelogTopN(
        feed.toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol),
        Seq("pk"), "uk", "v", 3),
      Seq("pk", "rank"))
      .select("rank", "uk", "v").as[(Int, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(batchMat == mat)
  }

  test("FastTop1 upsert fast path: parity with retractable engine, O(1) state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one partition, 200 distinct upsert keys (upsert-only, values never
    // decrease per key) — the FastTop1Function applicability conditions
    val feed = (1L to 200L).map(k =>
      ("p", k, (k * 7 % 199).toDouble, k, RowKind.Insert)) ++ Seq(
      // the current champion improves further (same champion, new value)
      ("p", 170L, 500.0, 201L, RowKind.UpdateAfter),
      // a challenger overtakes
      ("p", 44L, 900.0, 202L, RowKind.UpdateAfter))
    def mat(out: org.apache.spark.sql.DataFrame) =
      UpsertMaterialize(out, Seq("pk", "rank"))
        .select("rank", "uk", "v").as[(Int, Long, Double)]
        .collect().sortBy(_._1).toSeq
    val batchDf = feed.toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol)
    // batch parity: fast path == retractable engine at n = 1
    val fastB = mat(ChangelogTopN.top1Upsert(batchDf, Seq("pk"), "uk", "v"))
    val genB = mat(ChangelogTopN(batchDf, Seq("pk"), "uk", "v", 1))
    assert(fastB == genB && fastB == Seq((1, 44L, 900.0)))

    // streaming parity across batches + state-footprint comparison
    def runStream(fast: Boolean): (Seq[(Int, Long, Double)], Long) = {
      val input = MemoryStream[(String, Long, Double, Long, String)]
      val df = input.toDF()
        .toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol)
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-ft1-$fast-").toString
      val name = if (fast) "ft1_fast" else "ft1_gen"
      val out =
        if (fast) ChangelogTopN.top1Upsert(df, Seq("pk"), "uk", "v")
        else ChangelogTopN(df, Seq("pk"), "uk", "v", 1)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        val (a, b) = feed.splitAt(feed.size / 2)
        input.addData(a); q.processAllAvailable()
        input.addData(b); q.processAllAvailable()
      } finally q.stop()
      // schema-agnostic state size: total JSON length of the state rows
      val stateBytes = StateQuery(spark, ckpt).toJSON.collect()
        .map(_.length.toLong).sum
      (mat(spark.table(name)), stateBytes)
    }
    val (fastS, fastBytes) = runStream(fast = true)
    val (genS, genBytes) = runStream(fast = false)
    assert(fastS == genS && fastS == fastB)
    // the fast path's champion-only state is an order of magnitude
    // smaller than the full live-row map over 200 keys
    assert(fastBytes * 10 < genBytes,
      s"fast state $fastBytes bytes vs general $genBytes")

    // applicability violations raise loudly instead of mis-answering
    val retractFeed = Seq(("p", 1L, 5.0, 1L, RowKind.Insert),
      ("p", 1L, 5.0, 2L, RowKind.Delete))
      .toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol)
    val e1 = intercept[org.apache.spark.SparkException] {
      ChangelogTopN.top1Upsert(retractFeed, Seq("pk"), "uk", "v").collect()
    }
    assert(e1.getMessage.contains("UPSERT-only") ||
      Option(e1.getCause).exists(_.getMessage.contains("UPSERT-only")))
    val worseFeed = Seq(("p", 1L, 5.0, 1L, RowKind.Insert),
      ("p", 1L, 3.0, 2L, RowKind.UpdateAfter))
      .toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol)
    val e2 = intercept[org.apache.spark.SparkException] {
      ChangelogTopN.top1Upsert(worseFeed, Seq("pk"), "uk", "v").collect()
    }
    assert(e2.getMessage.contains("non-decreasing") ||
      Option(e2.getCause).exists(_.getMessage.contains("non-decreasing")))
  }

  test("UpdatableTopN fast path: buffer-only state matches retractable engine") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one partition, 50 upsert keys; improvements drive admission,
    // in-buffer updates, and a below-floor ignore that later re-enters
    val feed = (1L to 50L).map(k =>
      ("p", k, (k * 13 % 47).toDouble, k, RowKind.Insert)) ++ Seq(
      ("p", 10L, 100.0, 51L, RowKind.UpdateAfter), // admitted to the top
      ("p", 10L, 120.0, 52L, RowKind.UpdateAfter), // in-buffer update
      ("p", 3L, 48.0, 53L, RowKind.UpdateAfter),   // improves, enters
      ("p", 51L, 1.0, 54L, RowKind.Insert),        // below-floor: ignored
      ("p", 51L, 200.0, 55L, RowKind.UpdateAfter)) // re-enters from below
    def mat(out: org.apache.spark.sql.DataFrame) =
      UpsertMaterialize(out, Seq("pk", "rank"))
        .select("rank", "uk", "v").as[(Int, Long, Double)]
        .collect().sortBy(_._1).toSeq
    val batchDf = feed.toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol)
    val fastB = mat(ChangelogTopN.updatableTopN(batchDf, Seq("pk"), "uk",
      "v", 3))
    val genB = mat(ChangelogTopN(batchDf, Seq("pk"), "uk", "v", 3))
    assert(fastB == genB && fastB.head._2 == 51L, s"$fastB vs $genB")

    def runStream(fast: Boolean): (Seq[(Int, Long, Double)], Long) = {
      val input = MemoryStream[(String, Long, Double, Long, String)]
      val df = input.toDF()
        .toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol)
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-utn-$fast-").toString
      val name = if (fast) "utn_fast" else "utn_gen"
      val out =
        if (fast) ChangelogTopN.updatableTopN(df, Seq("pk"), "uk", "v", 3)
        else ChangelogTopN(df, Seq("pk"), "uk", "v", 3)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        val (a, b) = feed.splitAt(feed.size / 2)
        input.addData(a); q.processAllAvailable()
        input.addData(b); q.processAllAvailable()
      } finally q.stop()
      val stateBytes = StateQuery(spark, ckpt).toJSON.collect()
        .map(_.length.toLong).sum
      (mat(spark.table(name)), stateBytes)
    }
    val (fastS, fastBytes) = runStream(fast = true)
    val (genS, genBytes) = runStream(fast = false)
    assert(fastS == genS && fastS == fastB)
    // N-row buffer vs 50-row live map
    assert(fastBytes * 4 < genBytes,
      s"fast state $fastBytes bytes vs general $genBytes")

    // a buffered key worsening raises (buffer-only state cannot know
    // the successor)
    val worse = Seq(("p", 1L, 50.0, 1L, RowKind.Insert),
      ("p", 1L, 10.0, 2L, RowKind.UpdateAfter))
      .toDF("pk", "uk", "v", RowKind.seqCol, RowKind.kindCol)
    val e = intercept[org.apache.spark.SparkException] {
      ChangelogTopN.updatableTopN(worse, Seq("pk"), "uk", "v", 3).collect()
    }
    assert(e.getMessage.contains("non-decreasing") ||
      Option(e.getCause).exists(_.getMessage.contains("non-decreasing")))
  }

  test("ChangelogJoin idle TTL drops state; late arrivals re-pair fresh") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, Double, Long, String)]
    val rIn = MemoryStream[(Long, Long, Double, Long, String)]
    val lDf = lIn.toDF().toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol)
    val rDf = rIn.toDF().toDF("rk", "rjk", "w", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cjttl-").toString
    // NOTE: processing-time timeouts keep the micro-batch loop running
    // (pending timers = pending work), so processAllAvailable/AvailableNow
    // never quiesce — synchronize on SINK signals instead: each stage
    // includes a pairing that must appear before the next stage starts.
    val q = ChangelogJoin(lDf, rDf, "ljk", "rjk", "lk", "rk", "inner",
      idleTtlMs = Some(200L))
      .writeStream.format("memory").queryName("cl_ttl")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def eventually(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (!cond) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(100)
      }
    }
    try {
      // stage 1: left row for key 100 (the one that will expire) plus an
      // immediately-pairing insert pair on key 300 as the batch signal
      lIn.addData(Seq((1L, 100L, 10.0, 1L, RowKind.Insert),
        (5L, 300L, 50.0, 2L, RowKind.Insert)))
      rIn.addData(Seq((8L, 300L, 2.5, 3L, RowKind.Insert)))
      eventually("stage-1 pairing") {
        spark.table("cl_ttl").where(col("lk") === 5L).count() > 0
      }
      // idle past the TTL; pending timers make the engine run empty
      // batches, so key 100's timer fires and its state drops
      val b0 = q.lastProgress.batchId
      Thread.sleep(600)
      eventually("an empty timer batch") { q.lastProgress.batchId > b0 }
      // stage 2: the late right row for the EXPIRED key 100, plus a fresh
      // insert+insert pairing on key 301 as the batch signal
      rIn.addData(Seq((9L, 100L, 1.5, 4L, RowKind.Insert)))
      lIn.addData(Seq((7L, 301L, 70.0, 5L, RowKind.Insert)))
      rIn.addData(Seq((10L, 301L, 3.5, 6L, RowKind.Insert)))
      eventually("stage-2 pairing") {
        spark.table("cl_ttl").where(col("lk") === 7L).count() > 0
      }
    } finally q.stop()
    assert(spark.table("cl_ttl").where(col("ljk") === 100L).count() == 0,
      "expired key state must not pair with late arrivals")
  }

  test("ChangelogJoin: NULL join keys never pair (SQL inner-join semantics)") {
    val l = Seq(
      (1L, Some(100L), 1.0, 1L, RowKind.Insert),
      (2L, None, 2.0, 2L, RowKind.Insert))
      .toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol)
    val r = Seq(
      (7L, Some(100L), 1.5, 3L, RowKind.Insert),
      (8L, None, 2.5, 4L, RowKind.Insert))
      .toDF("rk", "rjk", "w", RowKind.seqCol, RowKind.kindCol)
    val out = UpsertMaterialize(
      ChangelogJoin(l, r, "ljk", "rjk", "lk", "rk"), Seq("lk", "rk"))
      .select("lk", "rk").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 7L)), s"null keys must not pair: $out")
  }

  test("bucketed upsert sink rewrites only touched buckets") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("graft-bkt-")
      .toString + "/t"
    val buckets = 8
    def bucketOf(k: Long): Int = {
      import org.apache.spark.sql.functions.{hash, pmod, lit => flit}
      Seq(k).toDF("k")
        .select(pmod(hash(col("k")), flit(buckets))).head().getInt(0)
    }

    // batch 1: keys 1..40 at v=k*1
    val b1 = (1L to 40L).map(k => (k, k * 1.0, 1L, RowKind.Insert))
      .toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    UpsertSink.applyBatch(spark, table, b1, Seq("k"), Some(buckets))

    // pick a key and record its bucket dir's file set; then update a key
    // from a DIFFERENT bucket and assert the first bucket's files are
    // byte-identical (not rewritten)
    val k1 = 1L
    val otherKey = (2L to 40L).find(k => bucketOf(k) != bucketOf(k1)).get
    def filesOf(b: Int): Map[String, Long] = {
      val d = new java.io.File(table, s"__bucket=$b")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = filesOf(bucketOf(k1))
    assert(before.nonEmpty)

    val b2 = Seq((otherKey, 999.0, 2L, RowKind.UpdateAfter))
      .toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    UpsertSink.applyBatch(spark, table, b2, Seq("k"), Some(buckets))
    assert(filesOf(bucketOf(k1)) == before,
      "untouched bucket was rewritten")

    // state correctness after the partial MERGE
    val got = spark.read.parquet(table).select("k", "v")
      .as[(Long, Double)].collect().toMap
    assert(got(otherKey) == 999.0 && got(k1) == 1.0 && got.size == 40)

    // batch 3: delete EVERY key of one bucket -> its dir disappears
    val victim = bucketOf(k1)
    val victims = (1L to 40L).filter(k => bucketOf(k) == victim)
    val b3 = victims.map(k => (k, 0.0, 3L, RowKind.Delete))
      .toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    UpsertSink.applyBatch(spark, table, b3, Seq("k"), Some(buckets))
    assert(!new java.io.File(table, s"__bucket=$victim").exists(),
      "emptied bucket dir not removed")
    val after = spark.read.parquet(table).select("k").as[Long].collect().toSet
    assert(after == (1L to 40L).toSet -- victims)
  }

  test("upsert MERGE matches the UpsertMaterialize oracle, both " +
      "layouts and joins") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // The oracle is the changelog's own final state: after every batch
    // the store must equal UpsertMaterialize over ALL batches so far,
    // whichever layout holds it and whichever join Spark picks for the
    // MERGE's key set.
    val base = java.nio.file.Files.createTempDirectory("graft-merge-")
    val buckets = 8
    def batchDf(rows: Seq[(Option[Long], Double, Long, String)]) =
      rows.toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    val batches = Seq(
      (1L to 60L).map(k => (Some(k), k * 1.0, 1L, RowKind.Insert)) :+
        ((None, -1.0, 1L, RowKind.Insert)),
      // updates + a delete + a fresh key
      Seq((Some(3L), 33.0, 2L, RowKind.UpdateAfter),
        (Some(7L), 0.0, 3L, RowKind.Delete),
        (Some(61L), 61.0, 4L, RowKind.Insert)),
      // a lone -U for a stored key changes nothing
      Seq((Some(5L), 5.0, 5L, RowKind.UpdateBefore)),
      // churn over the same keys: a -U/+U pair, a re-delete, an upsert
      // of the NULL key, and a lone -U beside them
      Seq((Some(3L), 33.0, 6L, RowKind.UpdateBefore),
        (Some(3L), 34.0, 7L, RowKind.UpdateAfter),
        (Some(61L), 0.0, 8L, RowKind.Delete),
        (Some(8L), 88.0, 9L, RowKind.UpdateAfter),
        (None, -2.0, 10L, RowKind.UpdateAfter),
        (Some(9L), 9.0, 11L, RowKind.UpdateBefore)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").as[(Option[Long], Double)].collect().toSet

    // the MERGE write's executed plan: the query plans holding a LEFT
    // ANTI join (AQE drops the join when the key set is empty, as for
    // the lone -U batch). Listener events arrive asynchronously but in
    // order, so a marker query seen last means every plan before it is in.
    val mergePlans =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    def antiJoin(p: SparkPlan): Boolean = nodes(p).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case j: SortMergeJoinExec => j.joinType == LeftAnti
      case _ => false
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (antiJoin(qe.executedPlan)) mergePlans.add(qe.executedPlan)
        else markers.add(qe.logical.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // replay every batch into both layouts; returns the MERGE plans
    def replay(tag: String): Seq[SparkPlan] = {
      import scala.jdk.CollectionConverters._
      mergePlans.clear()
      val layouts = Seq(None, Some(buckets))
      batches.indices.foreach { i =>
        val want = rows(UpsertMaterialize(
          batches.take(i + 1).map(batchDf).reduce(_ union _), Seq("k")))
        layouts.foreach { l =>
          val t = s"$base/$tag-${l.fold("flat")(n => s"b$n")}"
          UpsertSink.applyBatch(spark, t, batchDf(batches(i)), Seq("k"), l)
          assert(rows(UpsertSink.readTable(spark, t)) == want,
            s"$tag ${l.fold("flat")(_ => "bucketed")} store diverged " +
              s"from the oracle after batch ${i + 1}")
        }
      }
      val marker = s"merge-plans-$tag"
      spark.range(1).select(lit(marker)).collect()
      eventually("the MERGE plans")(markers.asScala.exists(_.contains(marker)))
      assert(!mergePlans.isEmpty, "no MERGE plan captured")
      // file-count bound: every touched bucket is rewritten wholly per
      // batch, so per-bucket files never compound across batches
      (0 until buckets).foreach { b =>
        val n = Option(new java.io.File(s"$base/$tag-b$buckets/__bucket=$b")
          .listFiles()).getOrElse(Array.empty)
          .count(_.getName.endsWith(".parquet"))
        assert(n <= 16, s"bucket $b holds $n files — small-files regression")
      }
      mergePlans.asScala.toSeq
    }

    spark.listenerManager.register(listener)
    try {
      replay("auto").foreach { p =>
        val j = nodes(p).collectFirst {
          case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
        }.getOrElse(fail(s"a small batch key set must broadcast:\n$p"))
        assert(j.buildSide == BuildRight)
        val probe = nodes(j.left)
        assert(probe.exists(_.isInstanceOf[FileSourceScanExec]) &&
          !probe.exists(_.isInstanceOf[Exchange]),
          s"the stored scan must not shuffle:\n$j")
      }
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try {
        val smj = replay("sortmerge")
        assert(smj.forall(nodes(_).exists {
          case j: SortMergeJoinExec => j.joinType == LeftAnti
          case _ => false
        }), "with broadcasts off the MERGE must sort-merge")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    } finally spark.listenerManager.unregister(listener)
  }

  test("RowLevelOps update/delete rewrite only touched buckets") {
    val table = java.nio.file.Files.createTempDirectory("graft-rl-")
      .toString + "/t"
    val b0 = (1L to 30L).map(k => (k, k * 1.0, 1L, RowKind.Insert))
      .toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
    UpsertSink.applyBatch(spark, table, b0, Seq("k"), Some(4))

    // UPDATE v = v * 10 WHERE k <= 3
    val nUpd = RowLevelOps.update(spark, table,
      col("k") <= 3, Map("v" -> (col("v") * 10)))
    assert(nUpd == 3)
    val afterUpd = spark.read.parquet(table).select("k", "v")
      .as[(Long, Double)].collect().toMap
    assert(afterUpd(1L) == 10.0 && afterUpd(2L) == 20.0 &&
      afterUpd(3L) == 30.0 && afterUpd(10L) == 10.0)
    assert(afterUpd.size == 30)

    // DELETE WHERE k > 25
    val nDel = RowLevelOps.delete(spark, table, col("k") > 25)
    assert(nDel == 5)
    val afterDel = spark.read.parquet(table).select("k")
      .as[Long].collect().toSet
    assert(afterDel == (1L to 25L).toSet)

    // DELETE everything -> all bucket dirs removed
    RowLevelOps.delete(spark, table, lit(true))
    val dirs = Option(new java.io.File(table).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("__bucket="))
    assert(dirs.isEmpty)
  }

  test("RetractableAgg: retractions exactly cancel accumulations") {
    import org.apache.spark.sql.functions.lit
    // +I 10, +I 20, -U 10 (retract), +U 30, -D 20 → live = {30}
    val log = Seq(
      (1L, 10.0, RowKind.Insert), (1L, 20.0, RowKind.Insert),
      (1L, 10.0, RowKind.UpdateBefore), (1L, 30.0, RowKind.UpdateAfter),
      (1L, 20.0, RowKind.Delete),
      (2L, 7.0, RowKind.Insert))
      .toDF("g", "v", RowKind.kindCol).withColumn(RowKind.seqCol, lit(1L))
    val out = RetractableAgg(log, Seq("g"), "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, 30.0, 30.0, 30.0),
      (2L, 1L, 7.0, 7.0, 7.0)))
  }

  test("CdcFormats: envelope edge cases parse to the right changelog rows") {
    import org.apache.spark.sql.types._
    val vs = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))

    // Debezium: snapshot read op "r" → +I; malformed JSON → dropped.
    val dbz = Seq(
      """{"after":{"id":1,"v":5.0},"op":"r","ts_ms":1}""",
      """{"before":{"id":1,"v":5.0},"after":{"id":1,"v":6.0},"op":"u","ts_ms":2}""",
      """not json at all""").toDF("payload")
    val dOut = CdcFormats.fromDebezium(dbz, "payload", vs)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getLong(3))).sortBy(x => (x._4, x._3))
    assert(dOut.toSeq == Seq(
      (1L, 5.0, "+I", 1L), (1L, 6.0, "+U", 2L), (1L, 5.0, "-U", 2L)))

    // Canal: multi-row data+old UPDATE — old[i] overlays data[i] by
    // position, carrying only the changed column.
    val canal = Seq(
      """{"data":[{"id":1,"v":10.0},{"id":2,"v":20.0}],
         |"old":[{"v":1.0},{"v":2.0}],"type":"UPDATE","ts":7}"""
        .stripMargin.replace("\n", "")).toDF("payload")
    val cOut = CdcFormats.fromCanal(canal, "payload", vs)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(x => (x._1, x._3))
    assert(cOut.toSeq == Seq(
      (1L, 10.0, "+U"), (1L, 1.0, "-U"),
      (2L, 20.0, "+U"), (2L, 2.0, "-U")))

    // Maxwell: update with no old (no changed columns recorded) — the
    // pre-image falls back to the new row field-wise.
    val mx = Seq(
      """{"data":{"id":3,"v":9.0},"type":"update","ts":4}""").toDF("payload")
    val mOut = CdcFormats.fromMaxwell(mx, "payload", vs)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._3)
    assert(mOut.toSeq == Seq((3L, 9.0, "+U"), (3L, 9.0, "-U")))
  }

  test("CdcFormats: streaming parse equals batch parse") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.types._
    val vs = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val payloads = Seq(
      """{"after":{"id":1,"v":5.0},"op":"c","ts_ms":1}""",
      """{"before":{"id":1,"v":5.0},"after":{"id":1,"v":6.0},"op":"u","ts_ms":2}""",
      """{"before":{"id":1,"v":6.0},"op":"d","ts_ms":3}""")
    val input = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-").toString
    val q = CdcFormats.fromDebezium(input.toDF().toDF("payload"),
        "payload", vs)
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      payloads.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("cdc_stream").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
      .sortBy(x => (x._4, x._3)).toSeq
    val batch = CdcFormats.fromDebezium(payloads.toDF("payload"), "payload", vs)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
      .sortBy(x => (x._4, x._3)).toSeq
    assert(streamed == batch && batch.size == 4)
  }

  test("ChangelogJoin rejects mismatched join key types up front") {
    // Int vs Long join keys used to surface only later as an opaque
    // unionByName failure on the __jk envelope column (ADVICE r3).
    val l = Seq(("a", 1, "x", 1L, "+I"))
      .toDF("lk", "ljk", "v", RowKind.seqCol, RowKind.kindCol)
    val r = Seq(("b", 1L, "y", 2L, "+I"))
      .toDF("rk", "rjk", "w", RowKind.seqCol, RowKind.kindCol)
    val ex = intercept[IllegalArgumentException](
      ChangelogJoin(l, r, "ljk", "rjk", "lk", "rk"))
    assert(ex.getMessage.contains("join key types differ"))
  }

  test("CdcFormats write side: envelopes serialize and round-trip") {
    import org.apache.spark.sql.types._
    val vs = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val log = Seq(
      (1L, 5.0, "+I", 1L), (1L, 5.0, "-U", 2L), (1L, 6.0, "+U", 3L),
      (1L, 6.0, "-D", 4L))
      .toDF("id", "v", "__rowkind", "__seq")

    // Debezium: +I/+U -> op c with after; -U/-D -> op d with before
    // (DebeziumJsonSerializationSchema.java:78), nulls explicit
    val dbz = CdcFormats.toDebezium(log).collect().map(_.getString(0))
    assert(dbz(0).contains("\"op\":\"c\"") &&
      dbz(0).contains("\"before\":null") &&
      dbz(0).contains("\"after\":{\"id\":1,\"v\":5.0}"), dbz(0))
    assert(dbz(1).contains("\"op\":\"d\"") &&
      dbz(1).contains("\"before\":{\"id\":1,\"v\":5.0}"), dbz(1))
    // round trip: parse back; updates degrade to -D/+I as documented,
    // so the MATERIALIZED state must match
    val rt = CdcFormats.fromDebezium(
      CdcFormats.toDebezium(log).toDF("payload"), "payload", vs)
    val finalState = graft.changelog.UpsertMaterialize(rt, Seq("id"))
    assert(finalState.collect().isEmpty,
      "after -D the key must be gone from the materialized state")
    // same check without the trailing delete: last image survives
    val rt2 = CdcFormats.fromDebezium(
      CdcFormats.toDebezium(log.where(col("__rowkind") =!= "-D"))
        .toDF("payload"), "payload", vs)
    val live = graft.changelog.UpsertMaterialize(rt2, Seq("id"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(live.toSeq == Seq((1L, 6.0)))

    // Canal / Maxwell / Ogg: envelope type mapping
    val canal = CdcFormats.toCanal(log).collect().map(_.getString(0))
    assert(canal(0).contains("\"type\":\"INSERT\"") &&
      canal(0).contains("\"data\":[{\"id\":1,\"v\":5.0}]"), canal(0))
    assert(canal(3).contains("\"type\":\"DELETE\""), canal(3))
    val mx = CdcFormats.toMaxwell(log).collect().map(_.getString(0))
    assert(mx(0).contains("\"type\":\"insert\"") &&
      mx(3).contains("\"type\":\"delete\""), mx.mkString("\n"))
    val ogg = CdcFormats.toOgg(log).collect().map(_.getString(0))
    assert(ogg(0).contains("\"op_type\":\"I\"") &&
      ogg(3).contains("\"op_type\":\"D\"") &&
      ogg(0).contains("1970-01-01 00:00:01"), ogg.mkString("\n"))
    // ogg round trip preserves the second-resolution seq
    val ort = CdcFormats.fromOgg(
      CdcFormats.toOgg(log).toDF("payload"), "payload", vs)
      .where(col("__rowkind") === "+I").collect().head
    assert(ort.getAs[Long]("__seq") == 1L)
  }

  test("CdcFormats: debezium-avro-confluent framed round trip") {
    import org.apache.spark.sql.types._
    val vs = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dbzavro-").toString
    val registry = new graft.sources.ConfluentAvro.FileRegistry(dir)
    val log = Seq(
      (1L, 5.0, "+I", 1L), (1L, 5.0, "-U", 2L), (1L, 6.0, "+U", 3L),
      (2L, 7.0, "+I", 4L))
      .toDF("id", "v", "__rowkind", "__seq")
    val framed = CdcFormats.toDebeziumAvro(log, registry, "orders-value")
    val bytes = framed.collect().map(_.getAs[Array[Byte]](0))
    assert(bytes.forall(b => b(0) == 0.toByte), "confluent magic byte")
    val back = CdcFormats.fromDebeziumAvro(framed, "framed", registry, vs)
    val state = graft.changelog.UpsertMaterialize(back, Seq("id"))
      .select("id", "v").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(state.toSeq == Seq((1L, 6.0), (2L, 7.0)))
    // a corrupted frame decodes to null and is dropped, not fatal
    val poisoned = framed.union(
      Seq(Array[Byte](9, 9, 9)).toDF("framed"))
    val survived = CdcFormats.fromDebeziumAvro(
      poisoned, "framed", registry, vs)
    assert(survived.count() == back.count())
  }


  test("UpsertEnvelope: key/value records with tombstones round-trip") {
    import org.apache.spark.sql.types._
    val keySchema = StructType(Seq(StructField("id", LongType)))
    val valueSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    // a topic: insert id=1, update id=1, insert id=2, tombstone id=1
    val topic = Seq(
      ("""{"id":1}""", """{"id":1,"v":5.0}""", 1L),
      ("""{"id":1}""", """{"id":1,"v":6.0}""", 2L),
      ("""{"id":2}""", """{"id":2,"v":7.0}""", 3L),
      ("""{"id":1}""", null, 4L))
      .toDF("key", "value", "offset")
    val log = UpsertEnvelope.decode(topic, "key", "value",
      keySchema, valueSchema, "offset")
    val rows = log.orderBy("__seq", "__rowkind")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("__rowkind"),
        r.getAs[Long]("__seq"))).toSeq
    // normalize reconstructs +I / -U,+U / -D with pre-images
    assert(rows == Seq(
      (1L, "+I", 1L), (1L, "+U", 2L), (1L, "-U", 2L),
      (2L, "+I", 3L), (1L, "-D", 4L)), s"$rows")
    // the -U pre-image carries the OLD value
    val pre = log.where(col("__rowkind") === "-U").collect().head
    assert(pre.getAs[Double]("v") == 5.0)
    // materialized state: id=2 only
    val state = UpsertMaterialize(log, Seq("id"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(state.toSeq == Seq((2L, 7.0)))

    // encode: changelog back to key/value records; -D becomes a
    // tombstone, -U drops
    val out = UpsertEnvelope.encode(log, Seq("id"))
      .orderBy("__seq").collect()
    assert(out.length == 4, "the -U row must not produce a record")
    assert(out(0).getString(0) == """{"id":1}""" &&
      out(0).getString(1).contains("\"v\":5.0"))
    assert(out(3).getString(0) == """{"id":1}""" && out(3).isNullAt(1),
      "delete must emit a tombstone")
    // full round trip: decode(encode(log)) materializes identically
    val rt = UpsertEnvelope.decode(
      UpsertEnvelope.encode(log, Seq("id"))
        .toDF("key", "value", "offset"),
      "key", "value", keySchema, valueSchema, "offset")
    val rtState = UpsertMaterialize(rt, Seq("id"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rtState.toSeq == Seq((2L, 7.0)))
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30e9.toLong
    while (!cond) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(100)
    }
  }

  test("ChangelogTopN idle TTL drops the live-row map") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double, Long, String)]
    val df = input.toDF().toDF("p", "uk", "v", RowKind.seqCol,
      RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tnttl-").toString
    val q = ChangelogTopN(df, Seq("p"), "uk", "v", n = 2,
      idleTtlMs = Some(400L))
      .writeStream.format("memory").queryName("tn_ttl")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(Seq((1L, 10L, 10.0, 1L, RowKind.Insert)))
      eventually("first rank emission") {
        spark.table("tn_ttl").count() >= 1
      }
      val b0 = q.lastProgress.batchId
      Thread.sleep(700)
      eventually("a timer batch") { q.lastProgress.batchId > b0 }
      // post-expiry: the live map is gone, so a LOWER value takes rank 1
      // (an unexpired state would have kept (10, 10.0) at rank 1 and put
      // this row at rank 2)
      input.addData(Seq((1L, 20L, 5.0, 2L, RowKind.Insert)))
      eventually("post-expiry emission") {
        spark.table("tn_ttl").where(col("uk") === 20L).count() >= 1
      }
    } finally q.stop()
    val rows = spark.table("tn_ttl")
      .select(col("rank"), col("uk"), col("v"), col(RowKind.kindCol))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(rows == Set(
      (1, 10L, 10.0, RowKind.Insert),
      (1, 20L, 5.0, RowKind.Insert)), s"unexpected emissions: $rows")
    // the processing-time seq base survives expiry: keep-last by
    // (p, rank) lands on the post-expiry champion however long the key
    // sat silent (no tombstone-grace window to race)
    val mat = UpsertMaterialize(spark.table("tn_ttl"), Seq("p", "rank"))
      .select("rank", "uk").as[(Int, Long)].collect().toSet
    assert(mat == Set((1, 20L)), s"keep-last mismatch: $mat")
  }

  test("ChangelogTopN dead-key tombstone: a re-insert out-seqs the -D") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // natural death (every row retracted) across micro-batches, then a
    // re-insert in a LATER batch: the emitted -D must not win keep-last
    // materialization over the new champion's +I. Before the seq-only
    // dead-key tombstone, state.remove() restarted the seq domain at 1
    // and the stale -D (higher seq) deleted the re-inserted rank row.
    val input = MemoryStream[(Long, Long, Double, Long, String)]
    val df = input.toDF().toDF("p", "uk", "v", RowKind.seqCol,
      RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tndk-").toString
    val q = ChangelogTopN(df, Seq("p"), "uk", "v", n = 2)
      .writeStream.format("memory").queryName("tn_dead")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(Seq((1L, 10L, 10.0, 1L, RowKind.Insert)))
      q.processAllAvailable()
      input.addData(Seq((1L, 10L, 10.0, 2L, RowKind.Delete)))
      q.processAllAvailable()
      input.addData(Seq((1L, 11L, 8.0, 3L, RowKind.Insert)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("tn_dead")
      .select(col("rank"), col("uk"), col(RowKind.kindCol),
        col(RowKind.seqCol))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val dSeq = rows.collectFirst {
      case (1, 10L, RowKind.Delete, s) => s }.get
    val iSeq = rows.collectFirst {
      case (1, 11L, RowKind.Insert, s) => s }.get
    assert(iSeq > dSeq,
      s"re-insert seq $iSeq must beat the earlier -D seq $dSeq: $rows")
    val mat = UpsertMaterialize(spark.table("tn_dead"), Seq("p", "rank"))
      .select("rank", "uk").as[(Int, Long)].collect().toSet
    assert(mat == Set((1, 11L)), s"keep-last mismatch: $mat")
  }

  test("ChangelogSemiJoin idle TTL drops both sides' state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, Double, Long, String)]
    val rIn = MemoryStream[(Long, Long, Long, String)]
    val lDf = lIn.toDF().toDF("lk", "ljk", "v", RowKind.seqCol,
      RowKind.kindCol)
    val rDf = rIn.toDF().toDF("rk", "rjk", RowKind.seqCol, RowKind.kindCol)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sjttl-").toString
    val q = ChangelogSemiJoin(lDf, rDf, "ljk", "rjk", "rk", anti = false,
      idleTtlMs = Some(400L))
      .writeStream.format("memory").queryName("sj_ttl")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      rIn.addData(Seq((7L, 100L, 1L, RowKind.Insert)))
      lIn.addData(Seq((1L, 100L, 10.0, 2L, RowKind.Insert)))
      eventually("pre-expiry emission") {
        spark.table("sj_ttl").where(col("lk") === 1L).count() >= 1
      }
      val b0 = q.lastProgress.batchId
      Thread.sleep(700)
      eventually("a timer batch") { q.lastProgress.batchId > b0 }
      // post-expiry: the right key set is gone — this left row must NOT
      // emit on arrival (the pre-expiry right insert is forgotten; the
      // reference's documented state.ttl correctness trade).
      // processAllAvailable can block under continuous timer batches —
      // poll batch progress instead (as the agg TTL test does)
      val b1 = q.lastProgress.batchId
      lIn.addData(Seq((2L, 100L, 20.0, 3L, RowKind.Insert)))
      eventually("post-expiry row processed") {
        q.lastProgress.batchId > b1 + 1
      }
      assert(spark.table("sj_ttl").where(col("lk") === 2L).count() == 0,
        "expired right state must not satisfy the semi join")
    } finally q.stop()
    val lks = spark.table("sj_ttl")
      .where(col(RowKind.kindCol) =!= RowKind.Delete)
      .select("lk").as[Long].collect().toSet
    assert(lks == Set(1L), s"unexpected emitted keys: $lks")
  }
}
