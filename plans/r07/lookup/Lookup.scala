// Lookup latency and per-batch addBatch time of a served queryable state
// (graft.streaming.StateServer). Run through run.sh, which compiles it
// against an engine build (`python3 perfbench/build.py`) and prints one
// RESULT line per state size. It uses only `serve`, `lookup` and
// `liveKeys` with their common arguments, so the same file measures a
// build that keeps the state in a heap registry and one that reads it
// from an upsert store.
//
// For each size: one micro-batch inserts `keys` keys (its addBatch is
// `fill_addBatch_ms`), then `nb` micro-batches update 10 random keys
// each (`addBatch_p50_ms`/`p90`), then 20 untimed and `n` timed
// in-process lookups of random present keys (`lookup_p50_ms`/`p90`).
import graft.GraftSession
import graft.changelog.RowKind
import graft.streaming.StateServer
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

object Lookup {
  def main(args: Array[String]): Unit = {
    val sizes = args(0).split(",").map(_.toLong)
    val n = args(1).toInt
    val nb = args(2).toInt
    val work = args(3)
    val spark = GraftSession.get("lookup", "local[4]", 4)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def pct(xs: Seq[Double], p: Double) = {
      val s = xs.sorted
      s(math.min(s.size - 1, (p * s.size).toInt))
    }
    def addBatchMs(q: StreamingQuery): Double =
      q.recentProgress.filter(_.numInputRows > 0).last
        .durationMs.get("addBatch").doubleValue
    for ((keys, i) <- sizes.zipWithIndex) {
      val input = MemoryStream[(Long, Double, Long, String)]
      val df = input.toDF().toDF("k", "v", RowKind.seqCol, RowKind.kindCol)
      val name = s"s$keys"
      val q = StateServer.serve(df, name, Seq("k"), 18700 + i,
        s"$work/ck_$keys")
      input.addData((1L to keys).map(k => (k, k * 1.5, k, RowKind.Insert)))
      q.processAllAvailable()
      val fill = addBatchMs(q)
      val rnd = new scala.util.Random(7)
      def key() = 1L + rnd.nextInt(keys.toInt)
      val batches = (1 to nb).map { b =>
        input.addData(Seq.fill(10)(key()).map(k =>
          (k, b.toDouble, keys + b, RowKind.UpdateAfter)))
        q.processAllAvailable()
        addBatchMs(q)
      }
      def one(): Double = {
        val k = key()
        val t = System.nanoTime
        val got = StateServer.lookup(name, Seq(k.toString))
        val ms = (System.nanoTime - t) / 1e6
        require(got.isDefined, s"key $k not served")
        ms
      }
      (1 to 20).foreach(_ => one())
      val lat = (1 to n).map(_ => one())
      val live = StateServer.liveKeys(name)
      require(live == keys, s"$live live keys, expected $keys")
      println(f"""RESULT {"keys":$keys,"lookups":$n,"lookup_p50_ms":${pct(lat, 0.5)}%.3f,"lookup_p90_ms":${pct(lat, 0.9)}%.3f,"fill_addBatch_ms":$fill%.0f,"batches":$nb,"addBatch_p50_ms":${pct(batches, 0.5)}%.0f,"addBatch_p90_ms":${pct(batches, 0.9)}%.0f}""")
      q.stop()
      StateServer.stop()
    }
    spark.stop()
  }
}
