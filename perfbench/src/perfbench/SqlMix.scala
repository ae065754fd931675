package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sql.FlinkSql

/** `sql_mix`: a closed loop of Flink-SQL SELECTs through `FlinkSql.sql`,
  * each run through the noop sink. The statements come from the runner as
  * `id<TAB>text` lines; repeated texts are how the workload exercises
  * FlinkSql's statement cache. After the timed loop, each distinct
  * statement is collected once so the runner can compare it with DuckDB. */
object SqlMix {
  private val tableNames = Seq("events", "orders", "customer", "lineitem")

  def run(spark: SparkSession, a: Args, trace: Option[Trace]): Result = {
    val tables: Map[String, DataFrame] = tableNames.map { t =>
      t -> spark.read.parquet(s"${a.data}/$t.parquet")
    }.toMap
    val statements = Files.readAllLines(Paths.get(a.statements), UTF_8)
      .asScala.map { l =>
        val i = l.indexOf('\t')
        (l.take(i), l.drop(i + 1))
      }.toVector
    val last = scala.collection.mutable.HashMap.empty[String, DataFrame]
    val seen = scala.collection.mutable.HashSet.empty[String]
    val timedIds = scala.collection.mutable.LinkedHashSet.empty[String]
    var timed = 0
    var repeats = 0
    var hits = 0

    def statement(i: Int) = statements(i % statements.size)
    def kindOf(i: Int): String = {
      val (id, text) = statement(i)
      id.takeWhile(_ != ':') + (if (seen(text)) ":repeat" else ":new")
    }

    val run = Loop.run(a.seconds, a.warmup, a.cycle, trace, kindOf) { (i, tr) =>
      val (id, text) = statement(i)
      val kind = kindOf(i)
      val span = tr.map(_.begin())
      val t0 = System.nanoTime()
      val df = FlinkSql.sql(spark, text, tables)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val hit = last.get(text).exists(_ eq df)
      last(text) = df
      val repeat = !seen.add(text)
      if (i >= a.warmup) {
        timedIds += id
        timed += 1
        if (repeat) repeats += 1
        if (hit) hits += 1
      }
      val wall = (t2 - t0) / 1e9
      val layers = tr.zip(span).map { case (t, acc) =>
        // a statement the cache answers was not analysed again
        if (!hit) t.addPhases(df.queryExecution.tracker)
        t.settle()
        Loop.execLayers(acc, wall, a.cores) ++ Map(
          "sql.translate_s" -> (t1 - t0) / 1e9,
          "exec.save_s" -> (t2 - t1) / 1e9)
      }.getOrElse(Map.empty)
      Op(kind, wall, 1, tr.isDefined, layers)
    }

    val byId = statements.toMap
    val rows = Files.newBufferedWriter(Paths.get(a.out + ".rows"), UTF_8)
    try timedIds.foreach { id =>
      val got = FlinkSql.sql(spark, byId(id), tables).collect()
      rows.write(Main.json.writeValueAsString(Map(
        "id" -> id, "rows" -> got.map(_.toSeq.map(cell)))))
      rows.write('\n')
    } finally rows.close()

    Result(run, checksFailed = 0, Nil, Map(
      "sql.repeat_share" -> (if (timed == 0) 0.0 else repeats.toDouble / timed),
      "sql.cache_hits" -> hits.toDouble))
  }

  /** A collected cell as the check reads it: timestamps as epoch
    * microseconds, anything else as Jackson writes it. */
  private def cell(v: Any): Any = v match {
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case other => other
  }
}
