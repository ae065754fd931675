package perfbench

/** One timed operation: its kind, its wall time, the input it carried (one
  * statement, or the round's change count) and, when traced, its per-layer
  * values. */
final case class Op(kind: String, seconds: Double, work: Long, traced: Boolean,
    layers: Map[String, Double])

/** The closed loop every workload runs: one client thread issues the next
  * operation only after the previous one has returned. */
object Loop {
  final case class Run(setupS: Double, warmup: Int, ops: Vector[Op],
      failures: Vector[String], liveHeapMb: Double)

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Runs `warmup` operations that are not timed, then timed ones in whole
    * cycles of `cycle` operations, as many as fit `seconds` best: at each
    * cycle boundary the loop stops once less than half a cycle (the mean
    * so far) would remain. A workload whose operations differ by their
    * place in a cycle thus always times the same mix. Set-up time runs
    * from JVM start to the first timed operation. After the last timed
    * operation, full collections measure the heap the program still holds.
    * With a trace, operations of each kind (`kindOf` the operation's index)
    * alternate between traced and untraced, so the tracing overhead
    * compares like with like; `step` gets the trace only when its
    * operation is traced. An operation that throws ends the loop. */
  def run(seconds: Double, warmup: Int, cycle: Int, trace: Option[Trace],
      kindOf: Int => String)(step: (Int, Option[Trace]) => Op): Run = {
    (0 until warmup).foreach(i => step(i, None))
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ops = Vector.newBuilder[Op]
    val failures = Vector.newBuilder[String]
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    val start = System.nanoTime()
    def more(done: Int): Boolean = done % cycle != 0 || done == 0 || {
      val elapsed = (System.nanoTime() - start) / 1e9
      elapsed + elapsed / (done / cycle) / 2 < seconds
    }
    var i = warmup
    var failed = false
    while (!failed && more(i - warmup)) {
      val kind = kindOf(i)
      val n = seen.getOrElse(kind, 0)
      seen(kind) = n + 1
      val traced = trace.filter(_ => n % 2 == 0)
      traced.foreach(_.attach())
      try ops += step(i, traced)
      catch {
        case e: Exception =>
          failures += s"op $i: $e"
          failed = true
      } finally traced.foreach(_.detach())
      i += 1
    }
    Run(setup, warmup, ops.result(), failures.result(), liveHeapMb())
  }

  /** Catalyst and execution values of one traced span. */
  def execLayers(a: LayerAcc, wallS: Double, cores: Int): Map[String, Double] =
    a.synchronized {
      Map(
        "catalyst.analysis_s" -> a.analysisMs / 1000.0,
        "catalyst.optimization_s" -> a.optimizationMs / 1000.0,
        "catalyst.planning_s" -> a.planningMs / 1000.0,
        "exec.jobs_per_op" -> a.jobs.toDouble,
        "exec.tasks_per_op" -> a.tasks.toDouble,
        "exec.task_run_s" -> a.taskRunMs / 1000.0,
        "exec.core_busy" -> a.taskRunMs / 1000.0 / (wallS * cores),
        "exec.shuffle_write_mb" -> a.shuffleWriteBytes / 1048576.0)
    }

  /** Heap still in use after full collections, in MB: what the program
    * keeps live, whatever heap size the JVM was given. Memory that a
    * cleaner or finalizer releases is only reclaimed by a later collection
    * (one collection alone read ~65 MB more in a third of `cdc_agg` runs),
    * so this takes the lowest of three. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      mem.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
