package lvbench

import scala.collection.mutable.ArrayBuffer

/** Times and checks a workload's operations. An operation that throws
  * or returns a wrong result counts as failed, never as dropped.
  *
  * In a traced run every second cycle is traced: its operations run
  * inside spans, with the engine counters read around them. The
  * untraced cycles give the same run's untraced timings, and the
  * difference is the tracing overhead. */
final class Runner(tr: Tracer) {
  var attempted = 0
  var failed = 0
  /** Wall time per operation kind, of the untraced operations. */
  val plainMs = ArrayBuffer.empty[(String, Double)]
  val tracedMs = ArrayBuffer.empty[(String, Double)]
  /** Engine counters summed over the traced operations only. */
  var tracedCounts = Counts()

  /** Runs `body`, timing it, then `check` on its result, untimed. */
  def op[T](kind: String, opId: Int, traced: Boolean = false)(body: => T)(check: T => Boolean): Unit = {
    attempted += 1
    val ok =
      try {
        val c0 = if (traced) tr.counts() else null
        val t0 = System.nanoTime()
        val r = if (traced) tr.span(kind, opId)(body) else body
        val wall = (System.nanoTime() - t0) / 1e6
        if (traced) {
          tracedCounts += tr.counts() - c0
          tracedMs += kind -> wall
        } else plainMs += kind -> wall
        val good = check(r)
        if (!good) System.err.println(s"[lvbench] $kind #$opId returned a wrong result")
        good
      } catch {
        case e: Exception =>
          System.err.println(s"[lvbench] $kind #$opId threw: $e")
          false
      }
    if (!ok) failed += 1
  }

  /** Runs cycles until `seconds` have passed and at least `minCycles`
    * ran, stopping at `capS` whatever the count. */
  def loop(seconds: Int, minCycles: Int, capS: Double)(cycle: (Int, Boolean) => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while ((elapsed < seconds || i < minCycles) && elapsed < capS) {
      cycle(i, tr.enabled && i % 2 == 1)
      i += 1
    }
    System.err.println(f"[lvbench] measured $i cycles, $attempted operations in $elapsed%.1f s")
  }

  def plain(kind: String): Seq[Double] = plainMs.collect { case (`kind`, ms) => ms }.toSeq

  /** The run's end-to-end metrics, from its untraced operations:
    * median latency of `mainKind`, and operations per second over all
    * kinds. */
  def endToEnd(mainKind: String, setupS: Seq[Double], heapMb: Double): Seq[Metric] = Seq(
    Metric("setup_s", Stats.median(setupS), "s"),
    Metric("heap_live_mb", heapMb, "MB"),
    Metric("op_p50_ms", Stats.percentile(plain(mainKind), 0.5).getOrElse(
      throw new IllegalStateException(s"fewer than 20 $mainKind samples")), "ms"),
    Metric("ops_per_s", plainMs.size / (plainMs.map(_._2).sum / 1e3), "1/s"))

  /** The traced cycles' engine totals and the tracing overhead. */
  def traced(): Seq[Metric] = {
    def mean(xs: Seq[(String, Double)]) = xs.map(_._2).sum / xs.size
    Layers.window(tracedCounts, tracedMs.map(_._2).sum / 1e3, tracedMs.size) :+
      Metric("trace.overhead_ms", mean(tracedMs.toSeq) - mean(plainMs.toSeq), "ms")
  }
}
