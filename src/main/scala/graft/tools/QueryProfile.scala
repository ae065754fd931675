package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only profiling harness: run named queries (noop sink) with a
  * streaming listener that prints every micro-batch's durationMs breakdown
  * to stderr, so streaming fixed costs (state commit, addBatch, walCommit)
  * are attributable. Each rep's line splits its wall time into `build=`
  * (the query function: for a SQL query its entry pipeline, for a
  * streaming tier its whole run) and `exec=` (the noop write). Usage:
  *   sbt "runMain graft.tools.QueryProfile /root/testdata/sf0.1 q_a,q_b [reps]"
  */
object QueryProfile {
  private val t00 = System.nanoTime()
  private def ts: String = f"${(System.nanoTime() - t00) / 1e9}%8.2f"
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = args(1).split(",").map(_.trim).toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.get(
      "graft-profile", s"local[$cpus]", cpus.toInt)
    // per-job wall time: attributes batch query cost to its Spark jobs
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val t0 = new java.util.concurrent.ConcurrentHashMap[
          Int, (Long, String)]()
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          t0.put(e.jobId, (System.nanoTime(),
            Option(e.properties.getProperty("spark.job.description"))
              .getOrElse("")))
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(t0.remove(e.jobId)).foreach { case (t, d) =>
            val dt = (System.nanoTime() - t) / 1e9
            if (dt > 0.05)
              System.err.println(f"[prof] $ts job ${e.jobId}%4d $dt%7.3f s  $d")
          }
        }
      })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        System.err.println(s"[prof] $ts stream started ${e.id}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        System.err.println(
          s"[prof] $ts batch=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs=${p.durationMs} stateOps=${p.stateOperators.length}")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      val fn = qs(n)
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val line = f"$n rep$r build=${(t1 - t0) / 1e9}%.3f " +
          f"exec=${(t2 - t1) / 1e9}%.3f total=${(t2 - t0) / 1e9}%.3f s"
        System.err.println(s"[prof] $ts $line")
        println(s"[prof] $line")
      }
    }
    spark.stop()
  }
}
