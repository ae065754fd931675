package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.changelog.UpsertSink
import graft.sql.FlinkDdl

/** Seeded, single-threaded CDC generator for an `orders` table. It keeps
  * its own model of the table, writes Debezium envelopes with plain file
  * I/O into a staging directory, and lands a staged file in a watched
  * directory with one atomic rename. It runs no Spark job, so the engine
  * sees only the landed files. Each key changes at most once per round. */
final class CdcGen(seed: Long, val nOrders: Int, val nCustomers: Int,
    staging: Path) {
  private val rnd = new java.util.SplittableRandom(seed)
  val oLive = Array.fill(nOrders + 1)(true)
  val oCust = Array.fill(nOrders + 1)(1L + rnd.nextInt(nCustomers))
  val oCents = Array.fill(nOrders + 1)(100L + rnd.nextInt(1000000))
  oLive(0) = false
  private var ts = 0L
  private var files = 0

  private def money(cents: Long): String =
    java.math.BigDecimal.valueOf(cents, 2).toPlainString

  private def order(k: Int): String =
    s"""{"o_orderkey":$k,"o_custkey":${oCust(k)},"o_totalprice":${money(oCents(k))}}"""

  private def envelope(before: String, after: String, op: String): String = {
    ts += 1
    s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$ts}"""
  }

  /** `n` distinct keys from 1..`max`, by a partial Fisher-Yates shuffle. */
  private def pick(n: Int, max: Int): Array[Int] = {
    val keys = Array.tabulate(max)(_ + 1)
    (0 until n).foreach { i =>
      val j = i + rnd.nextInt(max - i)
      val t = keys(i); keys(i) = keys(j); keys(j) = t
    }
    keys.take(n)
  }

  private def stage(lines: Iterator[String]): Path = {
    files += 1
    val f = staging.resolve(f"round-$files%06d.json")
    val w = Files.newBufferedWriter(f, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    f
  }

  def snapshot(): Path =
    stage((1 to nOrders).iterator.map(k => envelope("null", order(k), "r")))

  /** `n` order changes: a live order is updated (price, and sometimes its
    * customer) or, one time in five, deleted; a deleted one comes back. */
  def round(n: Int): Path = stage(pick(n, nOrders).iterator.map { k =>
    if (!oLive(k)) {
      oLive(k) = true
      oCust(k) = 1L + rnd.nextInt(nCustomers)
      oCents(k) = 100L + rnd.nextInt(1000000)
      envelope("null", order(k), "c")
    } else if (rnd.nextInt(5) == 0) {
      oLive(k) = false
      envelope(order(k), "null", "d")
    } else {
      val before = order(k)
      if (rnd.nextInt(3) == 0) oCust(k) = 1L + rnd.nextInt(nCustomers)
      oCents(k) = 100L + rnd.nextInt(1000000)
      envelope(before, order(k), "u")
    }
  })

  def land(staged: Path, watched: Path): Unit =
    Files.move(staged, watched.resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
}

/** `cdc_agg`: a closed loop of CDC rounds through `FlinkDdl.runStreaming`
  * into the signed-aggregation tier and `UpsertSink`, with one read of the
  * sink after each round. A round is timed from the rename that lands its
  * file until `processAllAvailable` returns with the round's rows
  * processed. */
object Cdc {
  val nOrders = 20000
  val nCustomers = 2000
  val changesPerRound = 200

  def run(spark: SparkSession, a: Args, trace: Option[Trace]): Result = {
    val root = Files.createDirectories(java.nio.file.Paths.get(a.work))
    def dir(name: String): Path = Files.createDirectories(root.resolve(name))
    val (src, snk) = (dir("src"), root.resolve("snk"))
    val gen = new CdcGen(a.seed, nOrders, nCustomers, dir("staging"))
    val script =
      s"""CREATE TABLE orders_cdc (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
         |  PRIMARY KEY (o_orderkey) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$src',
         |        'format'='debezium-json');
         |CREATE TABLE agg_snk (
         |  grp BIGINT, n_live BIGINT, sum_price DOUBLE,
         |  PRIMARY KEY (grp) NOT ENFORCED
         |) WITH ('connector'='filesystem', 'path'='$snk',
         |        'format'='parquet', 'sink.checkpoint-dir'='${root.resolve("ck")}');
         |INSERT INTO agg_snk
         |SELECT o_custkey % 100 AS grp, COUNT(*) AS n_live,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
         |         AS sum_price
         |FROM orders_cdc GROUP BY o_custkey % 100""".stripMargin

    // the snapshot lands before the query starts, so it is one batch
    gen.land(gen.snapshot(), src)
    val d0 = System.nanoTime()
    val q = FlinkDdl.runStreaming(spark, script).head
    val ddlStart = (System.nanoTime() - d0) / 1e9
    q.processAllAvailable()

    var splitRounds = 0
    def sinkFiles(): Double = {
      val s = Files.walk(snk)
      try s.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")).count().toDouble
      finally s.close()
    }

    val run = try Loop.run(a.seconds, a.warmup, 1, trace, _ => "round") { (i, tr) =>
      val staged = gen.round(changesPerRound)
      val before = lastBatch(q)
      val span = tr.map(_.begin())
      val t0 = System.nanoTime()
      gen.land(staged, src)
      q.processAllAvailable()
      var t1 = System.nanoTime()
      var batches = newBatches(q, before)
      var tries = 0
      // processAllAvailable can return on a trigger that listed the source
      // just before the rename; the round ends when its rows are processed
      while (batches.map(_.numInputRows).sum < changesPerRound) {
        tries += 1
        require(tries < 100, s"round $i: $changesPerRound changes never processed")
        Thread.sleep(1)
        q.processAllAvailable()
        t1 = System.nanoTime()
        batches = newBatches(q, before)
      }
      val wall = (t1 - t0) / 1e9
      val withData = batches.count(_.numInputRows > 0)
      if (i >= a.warmup && withData != 1) splitRounds += 1

      val layers = tr.zip(span).map { case (t, acc) =>
        t.settle()
        val round = Loop.execLayers(acc, wall, a.cores) ++
          streamLayers(acc, wall) + ("sink.files" -> sinkFiles())
        val r = t.begin()
        val r0 = System.nanoTime()
        UpsertSink.readTable(spark, snk.toString).collect()
        val readS = (System.nanoTime() - r0) / 1e9
        t.settle()
        round ++ Map("sink.read_s" -> readS,
          "sink.read_jobs" -> r.jobs.toDouble,
          "sink.read_tasks" -> r.tasks.toDouble)
      }.getOrElse {
        UpsertSink.readTable(spark, snk.toString).collect()
        Map.empty[String, Double]
      }
      Op("round", wall, changesPerRound, tr.isDefined, layers)
    } finally q.stop()

    val mismatches = checkAgg(spark, snk.toString, gen)
    Result(run, if (mismatches.isEmpty) 0 else 1, mismatches.take(5), Map(
      "ddl.start_s" -> ddlStart, "stream.split_rounds" -> splitRounds.toDouble))
  }

  private def lastBatch(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  private def newBatches(q: StreamingQuery, after: Long) =
    q.recentProgress.filter(_.batchId > after).toSeq

  /** Micro-batch and state values of one traced round. */
  private def streamLayers(a: LayerAcc, wallS: Double): Map[String, Double] =
    a.synchronized {
      val ps = a.progress.toSeq
      def dur(k: String): Double = ps.map { p =>
        Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)
      }.sum / 1000.0
      val ops = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      val trigger = dur("triggerExecution")
      Map(
        "stream.trigger_s" -> trigger,
        "stream.addBatch_s" -> dur("addBatch"),
        "stream.log_s" -> (dur("latestOffset") + dur("walCommit") +
          dur("getBatch") + dur("commitOffsets")),
        "stream.queryPlanning_s" -> dur("queryPlanning"),
        "stream.wait_s" -> (wallS - trigger),
        "stream.batches_per_round" -> ps.count(_.numInputRows > 0).toDouble,
        "exec.jobs_per_batch" ->
          (if (a.batchIds.isEmpty) 0.0 else a.streamJobs.toDouble / a.batchIds.size),
        "state.commit_s" ->
          ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1000.0,
        "state.rows_total" -> ops.map(_.numRowsTotal).sum.toDouble,
        "state.bytes" -> ops.map { o =>
          Option(o.customMetrics.get("stateOnCurrentVersionSizeBytes"))
            .map(_.toLong).getOrElse(0L)
        }.sum.toDouble,
        "state.memory_mb" -> ops.map(_.memoryUsedBytes).sum / 1048576.0)
    }

  /** The sink must hold exactly the generator's model of the aggregate:
    * per group, the live order count and the exact price sum. */
  private def checkAgg(spark: SparkSession, snk: String, gen: CdcGen): Seq[String] = {
    val want = (1 to gen.nOrders).filter(gen.oLive).groupBy(k => gen.oCust(k) % 100)
      .map { case (g, ks) => g -> (ks.size.toLong, ks.map(gen.oCents(_)).sum / 100.0) }
    val got = UpsertSink.readTable(spark, snk)
      .selectExpr("grp", "n_live", "sum_price").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    diff(want, got)
  }

  private def diff[K, V](want: Map[K, V], got: Map[K, V]): Seq[String] =
    (want.keySet ++ got.keySet).toSeq.flatMap { k =>
      if (want.get(k) == got.get(k)) None
      else Some(s"$k: want ${want.get(k)}, got ${got.get(k)}")
    }
}
