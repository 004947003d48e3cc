package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Runs both ingest workloads on a tiny seed with tracing on and checks
  * that the trace reconciles with each step's wall time. */
class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-trace").toFile
  private def args(w: String) = Args(w, seed = 5, seconds = 1, trace = true, cores = 2,
    work = new File(work, w), out = new File(work, s"$w.json"))
  private lazy val spark: SparkSession = Session.start(args("session"))

  override def afterAll(): Unit = {
    spark.stop()
    Fs.deleteRecursively(work)
  }

  /** Runs `n` traced steps after the workload's set-up. */
  private def traced(w: Workload, n: Int): (Seq[Step], Tracer) = {
    w.setup()
    val t = new Tracer(spark, 2)
    t.install()
    val steps = (0 until n).map(i => w.step(i, Some(t)))
    t.uninstall()
    assert(w.finish().isEmpty)
    (steps, t)
  }

  /** Exclusive execution time plus driver gap, against wall time. */
  private def assertReconciles(t: Tracer, s: Step): Unit = {
    val f = t.stepFigures(s)
    val attributed = f.collect { case (k, v) if k.startsWith("x.") && k.endsWith(".s") => v }.sum
    val sum = attributed + f("driver_gap.s")
    assert(math.abs(sum - s.wallS) <= 0.01 * s.wallS + 0.002, s"${s.name}: $sum vs ${s.wallS}")
    assert(f("driver_gap.s") >= 0.0, s.name)
    assert(f("trace.overrun_s") <= 0.05 * s.wallS, s.name)
  }

  test("ingest_daily: attributed execution time plus driver gap equals step wall time") {
    val shape = Shape.ingestDaily.copy(rowsPerDay = 3000, clients = 4000, lateShare = 0.5,
      maxLateDays = 2)
    val w = new IngestDaily(spark, args("ingest_daily"), shape)
    val (steps, t) = traced(w, 4)
    assert(steps.forall(_.ok))
    steps.foreach(assertReconciles(t, _))
    // steps that ingest a day run sink executions, Spark jobs and tasks
    val busy = steps.map(t.stepFigures).filter(_.getOrElse("x.sink.executions", 0.0) > 0)
    assert(busy.nonEmpty)
    busy.foreach(f => assert(f("spark.jobs") > 0 && f("spark.tasks") > 0 && f("x.sink.s") > 0))
    val layers = w.layers(t, steps)
    assert(layers("csv.s") > 0 && layers("discovery.s") > 0)
    assert(layers("csv.keep_ratio") > 0.95 && layers("csv.keep_ratio") < 1.0)
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.input_bytes",
      "spark.output_bytes", "spark.core_busy", "sink.bytes_written")
      .foreach(k => assert(layers(k) > 0, k))
  }

  test("stream_late_upsert: micro-batch breakdown and reconciliation") {
    val shape = Shape.streamLateUpsert.copy(rowsPerDay = 2000, clients = 3000, preloadDays = 5,
      correctionDates = 2, correctionRows = 300)
    val w = new StreamLateUpsert(spark, args("stream_late_upsert"), shape)
    val (steps, t) = traced(w, 3)
    assert(steps.forall(_.ok))
    steps.foreach(assertReconciles(t, _))
    steps.foreach { s =>
      val trigger = t.progressIn(s).map(_.getOrElse("triggerExecution", 0.0)).sum
      assert(trigger > 0 && trigger <= s.wallS + 0.002, s.name)
    }
    val layers = w.layers(t, steps)
    assert(layers("streaming.batches") >= 1.0)
    assert(layers("streaming.add_batch_s") > 0 && layers("sink.executions") > 0)
    assert(layers("streaming.start_stop_s") > 0 && layers("sink.rows_rewritten") > 0)
  }

  test("call sites map to program modules, skipping the benchmark's frames") {
    val site = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "graft.perfbench.QueryMix.step(QueryMix.scala:1)\n" +
      "graft.sink.UpsertSink.mergePersisted(UpsertSink.scala:160)\n"
    assert(Tracer.moduleOf(site) == "sink.UpsertSink")
    assert(Tracer.moduleOf("graft.operators.Materializer$Local$.apply(Materializer.scala:66)") ==
      "operators.Materializer")
    assert(Tracer.moduleOf("graft.Tables$.spread(Tables.scala:31)") == "Tables")
    assert(Tracer.moduleOf("graft.perfbench.Main$.main(Main.scala:1)") == "perfbench")
    assert(Tracer.layerOf("operators.Materializer") == "operators")
    assert(Tracer.layerOf("ingest.Pipeline") == "pipeline")
  }
}
