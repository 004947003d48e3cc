package graft.perfbench

/** A workload: set-up, then closed-loop steps, then final checks. */
trait Workload {
  /** Work done once before measuring (warm-up, pre-load). */
  def setup(): Unit
  /** Untimed wait between set-up and measuring. */
  def beforeMeasure(): Unit = ()
  /** Whether a run may stop (or switch tracing) before step `i`. */
  def boundary(i: Int): Boolean = true
  /** Prepare step `i` untimed, run it timed, check it untimed. */
  def step(i: Int, tracer: Option[Tracer]): Step
  /** End-of-run checks; returns the failures found. */
  def finish(): Seq[String]
  /** Per-layer figures of the traced steps (per-step means). */
  def layers(tracer: Tracer, traced: Seq[Step]): Map[String, Double]
  /** End-to-end figures that only this workload has, for the log. */
  def extras(steps: Seq[Step]): Seq[(String, Double, String)] = Nil
}

object Workload {
  def mean(xs: Seq[Map[String, Double]], k: String): Double =
    if (xs.isEmpty) 0.0 else xs.map(_.getOrElse(k, 0.0)).sum / xs.size

  /** Spark engine figures common to every workload. */
  def engine(figs: Seq[Map[String, Double]]): Map[String, Double] =
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s", "spark.gc_s",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
      "spark.input_bytes", "spark.output_bytes", "spark.core_busy", "trace.overrun_s")
      .map(k => k -> mean(figs, k)).toMap

  def rowsPerS(steps: Seq[Step]): Double = steps.map(_.rows).sum / steps.map(_.wallS).sum
}
