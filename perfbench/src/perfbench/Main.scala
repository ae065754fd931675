package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** Command line of the engine side of the benchmark; `perfbench/run.py`
  * builds it. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, warmup: Int, cycle: Int, cores: Int, work: String,
    out: String, data: String, statements: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("warmup").toInt, m.getOrElse("cycle", "1").toInt,
      m("cores").toInt, m("work"), m("out"),
      m.getOrElse("data", ""), m.getOrElse("statements", ""))
  }
}

/** A workload's timed loop plus its correctness verdict and the per-run
  * values that are properties of the whole run, not of one operation. */
final case class Result(run: Loop.Run, checksFailed: Int,
    checkDetail: Seq[String], runLayers: Map[String, Double])

/** Runs one workload in this JVM and writes its raw measurements as one
  * JSON object to `--out`; the runner turns them into metrics. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = GraftSession.get("perfbench", s"local[${a.cores}]")
    spark.sparkContext.setLogLevel("WARN")
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val r = a.workload match {
      case "sql_mix" => SqlMix.run(spark, a, trace)
      case "cdc_agg" => Cdc.run(spark, a, trace)
      case w => sys.error(s"unknown workload $w")
    }
    json.writeValue(new File(a.out), Map(
      "setup_s" -> r.run.setupS,
      "live_heap_mb" -> r.run.liveHeapMb,
      "warmup_ops" -> r.run.warmup,
      "ops" -> r.run.ops,
      "failures" -> r.run.failures,
      "checks_failed" -> r.checksFailed,
      "check_detail" -> r.checkDetail,
      "run_layers" -> r.runLayers))
    spark.stop()
    sys.exit(0)
  }
}
