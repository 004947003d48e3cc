package graft.perfbench

import java.io.File

import scala.collection.mutable

/** Benchmark main: runs one workload closed-loop with one client for
  * `--seconds`, then checks its outputs and writes the result JSON to
  * `--out`. With `--trace 1` it measures twice as long, first untraced
  * and then traced, so the run reports the per-layer figures and the
  * tracing overhead (traced minus untraced mean step time) side by
  * side. */
object Main {

  /** Per-layer metrics of a traced run, in `BENCHMARK.json` order.
    * A workload that has no such layer reports 0. */
  val PerLayer: Seq[String] = Seq(
    "discovery.s", "discovery.dates_probed", "control.s", "late_registry.dates",
    "csv.s", "csv.rows_in", "csv.keep_ratio", "csv.step_s", "pipeline.s", "pipeline.driver_gap_s",
    "ingest.rows_per_s", "ingest.unattributed_s",
    "sink.s", "sink.executions", "sink.bytes_written", "sink.rows_rewritten", "sink.write_amp",
    "streaming.add_batch_s", "streaming.get_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.latest_offset_s", "streaming.commit_offsets_s",
    "streaming.start_stop_s", "streaming.batches", "streaming.driver_gap_s",
    "queries.build_s", "queries.action_s", "queries.plan_s", "queries.executions",
    "queries.driver_gap_s", "queries.exec_s",
    "queries.ingest_s", "queries.relational_s", "queries.text_s", "queries.corpus_s",
    "queries.curation_s", "queries.vector_s", "queries.dedup_s", "queries.analytics_s",
    "queries.advanced_s", "queries.tpch_s",
    "operators.s", "operators.executions", "materializer.rounds",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.output_bytes", "spark.core_busy",
    "trace.overhead_s", "trace.overhead_frac", "trace.overrun_s", "trace.steps")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    a.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = Session.start(a)
    try {
      spark.range(1).count()
      val sessionS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] session start $sessionS%.1f s")
      val w: Workload = a.workload match {
        case "ingest_daily" => new IngestDaily(spark, a)
        case "stream_late_upsert" => new StreamLateUpsert(spark, a)
        case "query_mix" => new QueryMix(spark, a, new File(a.work, "tables"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val s0 = System.nanoTime()
      w.setup()
      val setupS = sessionS + (System.nanoTime() - s0) / 1e9
      w.beforeMeasure()

      val tracer = if (a.trace) Some(new Tracer(spark, a.cores)) else None
      val mid = Fs.now() + (a.seconds * 1000).toLong
      val end = if (a.trace) mid + (a.seconds * 1000).toLong else mid
      val steps = mutable.ArrayBuffer.empty[Step]
      var i = 0
      var unitStart = Fs.now()
      var unitMs = 0L
      // Steps run in units (a query_mix pass, else one step); a phase
      // stops at a unit boundary once more than half of a next unit, as
      // long as the last one, would fall past `until`.
      def run(t: Option[Tracer], until: Long, minSteps: Int): Unit =
        while (!(w.boundary(i) && steps.size >= minSteps && Fs.now() + unitMs / 2 > until)) {
          val s = w.step(i, t)
          System.err.println(f"[perfbench] step ${s.id} ${s.name} ${s.wallS}%.3f s ok=${s.ok}")
          steps += s
          i += 1
          if (w.boundary(i)) {
            unitMs = Fs.now() - unitStart
            unitStart = Fs.now()
          }
        }
      run(None, mid, 1)
      tracer.foreach { t =>
        t.install()
        run(Some(t), end, steps.size + 1)
        t.uninstall()
      }
      val f0 = System.nanoTime()
      val finalFailures = w.finish()
      System.err.println(f"[perfbench] setup ${setupS}%.1f s, final checks ${(System.nanoTime() - f0) / 1e9}%.1f s")
      report(a, w, setupS, steps.toSeq, finalFailures, tracer)
    } finally spark.stop()
  }

  private def report(a: Args, w: Workload, setupS: Double, steps: Seq[Step],
      finalFailures: Seq[String], tracer: Option[Tracer]): Unit = {
    val log = mutable.ArrayBuffer.empty[String]
    val walls = steps.map(_.wallS)
    val attempted = steps.size
    val failed = if (finalFailures.nonEmpty) attempted else steps.count(!_.ok)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        val e2e = Seq(("setup_s", setupS, "s"), ("step_p50_s", Stats.median(walls), "s"))
        log += f"steps=$attempted failed=$failed failed_frac=${failed.toDouble / attempted}%.4f"
        log += f"steps_per_s=${steps.size / walls.sum}%.4f 1/s"
        Stats.tail(walls).foreach { case (p, v) =>
          log += f"step_tail_s=$v%.4f (p$p%.0f of $attempted steps)" }
        w.extras(steps).foreach { case (k, v, u) => log += f"$k=$v%.4f $u" }
        e2e
      case Some(t) =>
        val (traced, plain) = steps.partition(_.traced)
        val mt = traced.map(_.wallS).sum / traced.size
        val mp = if (plain.isEmpty) mt else plain.map(_.wallS).sum / plain.size
        val figs = w.layers(t, traced) ++ Map(
          "trace.overhead_s" -> (mt - mp), "trace.overhead_frac" -> (mt - mp) / mp,
          "trace.steps" -> traced.size.toDouble)
        t.write(new File(a.out.getParentFile, s"trace-${a.workload}-${a.seed}.json"), steps)
        log += f"traced steps=${traced.size} mean=$mt%.4f s; untraced steps=${plain.size} " +
          f"mean=$mp%.4f s; tracing overhead ${mt - mp}%.4f s per step"
        PerLayer.map(k => (k, figs.getOrElse(k, 0.0), unitOf(k)))
    }
    finalFailures.take(10).foreach(f => log += s"FAIL $f")
    val body = J.obj(Seq(
      "correct" -> (failed == 0 && finalFailures.isEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> J.obj(metrics.map { case (k, v, u) =>
        k -> J.obj(Seq("value" -> J.num(v), "unit" -> J.str(u))) }),
      "steps" -> J.arr(steps.map(s => J.obj(Seq("name" -> J.str(s.name), "ok" -> s.ok.toString)))),
      "log" -> J.arr(log.toSeq.map(J.str))))
    J.write(a.out, body + "\n")
  }

  def unitOf(k: String): String = k match {
    case "ingest.rows_per_s" => "rows/s"
    case _ if k.endsWith("_s") || k.endsWith(".s") => "s"
    case _ if k.endsWith("_bytes") || k == "sink.bytes_written" => "bytes"
    case _ if k.endsWith("ratio") || k.endsWith("_amp") || k.endsWith("_frac") ||
      k == "spark.core_busy" => "ratio"
    case _ => "count"
  }
}
