package perfbench

import org.apache.spark.sql.SparkSession

/** What a measured run hands back to [[Main]]. `opP50S` is the median
  * latency of one operation, as the workload defines it; `passes` the time
  * of each whole pass over the workload's operation list, with whether it
  * was traced. */
final case class Outcome(
    attempted: Int,
    failures: Seq[String],
    opP50S: Double,
    suiteS: Double,
    passes: Seq[(Boolean, Double)],
    named: Seq[Metric],
    layers: Seq[Metric])

/** One closed loop with a single client: each operation starts when the
  * previous one has completed. */
trait Workload {
  /** Load and generate the inputs, then run the untimed warm-up. */
  def setup(spark: SparkSession, trace: Trace): Unit

  /** Run the passes that fit in `seconds` (see [[loop]]). */
  def measure(spark: SparkSession, trace: Trace, seconds: Double, traced: Boolean): Outcome

  /** The share of `--seconds` one pass counts for. A pass may take longer
    * than this on four cores (a cdc_replicate round does); what matters is
    * that it is a constant. */
  protected def nominalPassSeconds: Double

  /** Run passes `0, 1, ...`: `floor(seconds / nominalPassSeconds)`, and at
    * least one. The count depends on `seconds` only, not
    * on how fast this machine is, so every run of a workload does the same
    * work and yields the same number of samples. A traced run alternates
    * untraced and traced passes, starting and ending untraced (an odd count,
    * at least three), so that passes getting faster as the JIT warms do not
    * bias the traced-minus-untraced overhead (which also leaves out pass 0).
    * Returns what each pass
    * returned. */
  protected def loop[T](spark: SparkSession, trace: Trace, seconds: Double, traced: Boolean)
                       (pass: Int => T): Seq[(Boolean, T)] = {
    val passes = Workload.passes(seconds, nominalPassSeconds, traced)
    val out = Seq.newBuilder[(Boolean, T)]
    var i = 0
    while (i < passes) {
      val on = traced && i % 2 == 1
      trace.set(on, spark)
      out += on -> pass(i)
      trace.drain(spark)
      i += 1
    }
    trace.set(false, spark)
    out.result()
  }
}

object Workload {
  /** The number of passes [[Workload.loop]] runs. */
  def passes(seconds: Double, nominalPassSeconds: Double, traced: Boolean): Int = {
    val fit = math.max(1, math.floor(seconds / nominalPassSeconds).toInt)
    if (traced) math.max(3, fit | 1) else fit
  }
}
