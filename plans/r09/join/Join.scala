// Wall time of the streaming tiers through `SparkEntry.queries`, the way
// graft.Bench runs them: build the query's DataFrame (which runs its
// streaming pipeline to the end) and write it to the noop sink. Run
// through run.sh, which compiles this file against an engine build
// (`python3 perfbench/build.py`).
//
// The queries: the nine `FlinkDdl.runStreaming` tiers of SqlQueries
// (the three CDC joins, whose sources hold their snapshot files at
// start, and six whose source directory is empty at start) and
// `q_changelog_agg_chain`, which runs no `runStreaming` query (the
// control).
//
// An optional fourth argument, a comma-separated list, times only those
// queries. One untimed pass over the queries warms the JVM; each of the next
// `reps` passes times every query once and prints one RESULT line per
// query, with the shuffle partition counts its stateful operators ran at
// (from the streaming progress events).
import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

object Join {
  val names = Seq("q_sql_cdc_join", "q_sql_cdc_join_left",
    "q_sql_cdc_join_agg", "q_sql_cdc_e2e", "q_sql_stream_upsert",
    "q_sql_stream_topn", "q_sql_stream_rank", "q_sql_cdc_minmax",
    "q_sql_stream_over", "q_changelog_agg_chain")

  def main(args: Array[String]): Unit = {
    val Array(data, reps, cores) = args.take(3)
    val only = args.drop(3).headOption.fold(names)(_.split(",").toSeq)
    val spark = GraftSession.get("join", s"local[$cores]", cores.toInt)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => seen.add(o.numShufflePartitions.toInt))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, data)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    only.foreach(once)
    for (rep <- 1 to reps.toInt; name <- only) {
      seen.clear()
      val wall = once(name)
      Thread.sleep(500) // let the last progress events arrive
      val parts = seen.toArray.map(_.toString).sorted.mkString(",")
      println(f"""RESULT {"query": "$name", "rep": $rep, "cores": $cores, """ +
        f""""wall_s": $wall%.3f, "partitions": [$parts]}""")
    }
    spark.stop()
  }
}
