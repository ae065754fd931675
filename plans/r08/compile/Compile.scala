// Hot-JVM compile time of the `sql_mix` statements: the wall time of
// `FlinkSql.sql` alone (translation, parsing and analysis; nothing runs).
// Run through run.sh, which writes the inputs with gen.py, compiles this
// file against an engine build (`python3 perfbench/build.py`) and prints
// one RESULT line per template.
//
// The statements come as `warm|timed<TAB>template<TAB>text` lines, the
// templates round-robin, every text distinct. The warm lines run first,
// untimed; each timed line is timed once.
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.sql.FlinkSql

object Compile {
  def main(args: Array[String]): Unit = {
    val Array(data, statements) = args
    val spark = GraftSession.get("compile", "local[2]", 2)
    val tables = Seq("events", "orders", "customer", "lineitem").map { t =>
      t -> spark.read.parquet(s"$data/$t.parquet")
    }.toMap
    val lines = Files.readAllLines(Paths.get(statements), UTF_8).asScala
      .map(_.split("\t", 3)).toVector
    val times = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[Double]]
    for (Array(kind, template, text) <- lines) {
      val t0 = System.nanoTime()
      FlinkSql.sql(spark, text, tables)
      val ms = (System.nanoTime() - t0) / 1e6
      if (kind == "timed")
        times(template) = times.getOrElse(template, Vector.empty) :+ ms
    }
    def q(xs: Vector[Double], p: Double): Double = {
      val s = xs.sorted
      val at = p * (s.size - 1)
      val lo = math.floor(at).toInt
      s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (at - lo)
    }
    for ((template, xs) <- times)
      println(f"""RESULT {"template": "$template", "reps": ${xs.size}, """ +
        f""""median_ms": ${q(xs, 0.5)}%.3f, "q1_ms": ${q(xs, 0.25)}%.3f, """ +
        f""""q3_ms": ${q(xs, 0.75)}%.3f}""")
    spark.stop()
  }
}
