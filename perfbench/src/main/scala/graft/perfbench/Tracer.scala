package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. Everything is observed from the
  * outside: a `SparkListener` (SQL executions, jobs, stages, tasks), a
  * `QueryExecutionListener` (planning phases) and a
  * `StreamingQueryListener` (micro-batch duration breakdown), plus
  * layer spans and counts that the workloads record around their own
  * calls into the program. Spans stay in memory until [[write]].
  *
  * Span tree: run > step > (layer call | SQL execution > job > stage).
  * A SQL execution belongs to the step whose interval holds its start,
  * and to the program module of the first `graft.` frame of its call
  * site; AQE jobs, whose own call site names no program file, reach
  * their execution through `spark.sql.execution.id`. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val lock = new Object
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.Map.empty[(Int, String), Double]

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
          execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
            s.time, s.time, moduleOf(s.details))
        }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
          execs.get(s.executionId).foreach(_.end = s.time)
        }
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
      val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val site = j.stageInfos.headOption.map(_.details).getOrElse("")
      jobs(j.jobId) = Job(j.jobId, exec, j.time, j.time, moduleOf(site), j.stageIds)
      j.stageIds.foreach(stageJob(_) = j.jobId)
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(j.jobId).foreach(_.end = j.time)
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageJob.get(s.stageInfo.stageId).flatMap(jobs.get).foreach(_.m.add("spark.stages", 1))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) lock.synchronized {
        stageJob.get(t.stageId).flatMap(jobs.get).foreach { job =>
          val a = job.m
          a.add("spark.tasks", 1)
          a.add("spark.task_s", m.executorRunTime / 1e3)
          a.add("spark.cpu_s", m.executorCpuTime / 1e9)
          a.add("spark.gc_s", m.jvmGCTime / 1e3)
          a.add("spark.shuffle_read_bytes",
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
          a.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          a.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          a.add("spark.input_bytes", m.inputMetrics.bytesRead)
          a.add("spark.output_bytes", m.outputMetrics.bytesWritten)
          a.add("spark.output_records", m.outputMetrics.recordsWritten)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      lock.synchronized { plans += ((Fs.now(), ms / 1e3)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1e3 }.toMap
      lock.synchronized { progress += ((Fs.now(), d)) }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Block until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  /** Time a layer call made by the benchmark for step `step`. */
  def span[T](step: Int, layer: String)(f: => T): T = {
    val t0 = Fs.now()
    val n0 = System.nanoTime()
    try f finally {
      add(step, s"$layer.s", (System.nanoTime() - n0) / 1e9)
      lock.synchronized { spans += Span(step, layer, t0, Fs.now()) }
    }
  }

  /** Add `v` to the counter `name` of step `step`. */
  def add(step: Int, name: String, v: Double): Unit =
    lock.synchronized { counts((step, name)) = counts.getOrElse((step, name), 0.0) + v }

  /** Micro-batch duration breakdowns reported inside `s`. */
  def progressIn(s: Step): Seq[Map[String, Double]] = lock.synchronized {
    progress.toSeq.collect { case (t, d) if t >= s.startMs && t <= s.endMs + 1000 => d }
  }

  /** Per-step layer figures of one traced step. Execution time is
    * attributed exclusively: each instant of the step goes to the
    * innermost SQL execution (or execution-less job) running then, and
    * what no execution covers is the step's driver gap, so the
    * attributed times (`x.<layer>.s`) plus the gap sum to the step's
    * wall time. */
  def stepFigures(s: Step): Map[String, Double] = lock.synchronized {
    val inStep = execs.values.filter(e => e.start >= s.startMs && e.start <= s.endMs).toSeq
    val orphanJobs = jobs.values.filter(j => j.exec.isEmpty && j.start >= s.startMs &&
      j.start <= s.endMs).map(j => Exec(-j.id.toLong, -j.id.toLong, j.start, j.end, j.module))
    val ivs = (inStep ++ orphanJobs).sortBy(_.start)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    // exclusive sweep over the step's interval boundaries
    val bounds = (ivs.flatMap(e => Seq(e.start, math.min(e.end, s.endMs))) :+ s.startMs :+ s.endMs)
      .filter(t => t >= s.startMs && t <= s.endMs).distinct.sorted
    var covered = 0L
    bounds.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val live = ivs.filter(e => e.start <= a && e.end >= b)
        if (live.nonEmpty) {
          covered += b - a
          out("x." + layerOf(live.maxBy(_.start).module) + ".s") += (b - a) / 1e3
        }
      case _ =>
    }
    out("driver_gap.s") += (s.endMs - s.startMs - covered) / 1e3
    out("trace.overrun_s") += ivs.map(e => math.max(0L, e.end - s.endMs)).sum / 1e3
    inStep.foreach { e =>
      out("x." + layerOf(e.module) + ".executions") += 1
      if (e.module == "operators.Materializer") out("materializer.rounds") += 1
      if (e.root != e.id) out("nested.executions") += 1
    }
    out("executions") += inStep.size
    val stepJobs = jobs.values.filter(j => j.start >= s.startMs && j.start <= s.endMs).toSeq
    out("spark.jobs") += stepJobs.size
    stepJobs.foreach(_.m.values.foreach { case (k, v) => out(k) += v })
    out("spark.core_busy") = out("spark.task_s") / math.max(1e-9, s.wallS * cores)
    out("plan.s") += plans.collect { case (t, v) if t >= s.startMs && t <= s.endMs => v }.sum
    counts.foreach { case ((id, k), v) if id == s.id => out(k) += v; case _ => }
    out.toMap
  }

  /** Spans as JSON, written once at the end of the run. */
  def write(f: File, steps: Seq[Step]): Unit = lock.synchronized {
    val stepJs = steps.filter(_.traced).map { s =>
      val ex = execs.values.filter(e => e.start >= s.startMs && e.start <= s.endMs).toSeq
      J.obj(Seq(
        "step" -> s.id.toString, "name" -> J.str(s.name), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString,
        "layers" -> J.arr(spans.toSeq.filter(_.step == s.id).map(p => J.obj(Seq(
          "layer" -> J.str(p.layer), "start_ms" -> p.start.toString, "end_ms" -> p.end.toString)))),
        "executions" -> J.arr(ex.map(e => J.obj(Seq(
          "id" -> e.id.toString, "root" -> e.root.toString, "module" -> J.str(e.module),
          "start_ms" -> e.start.toString, "end_ms" -> e.end.toString,
          "jobs" -> J.arr(jobs.values.filter(_.exec.contains(e.id)).toSeq.map(j => J.obj(Seq(
            "id" -> j.id.toString, "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
            "stages" -> J.arr(j.stages.map(_.toString)))))))))),
        "figures" -> J.obj(stepFigures(s).toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) })))
    }
    J.write(f, J.arr(stepJs) + "\n")
  }
}

object Tracer {
  final case class Exec(id: Long, root: Long, start: Long, var end: Long, module: String)
  final case class Span(step: Int, layer: String, start: Long, end: Long)

  final class Acc { val values: mutable.Map[String, Double] = mutable.Map.empty
    def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v }

  final case class Job(id: Int, exec: Option[Long], start: Long, var end: Long, module: String,
      stages: Seq[Int]) { val m = new Acc }

  private val Frame = """^(?:at\s+)?graft\.([\w$.]+)\(""".r.unanchored

  /** The program module of a call site: the first `graft.<pkg>.<Class>`
    * frame that is not the benchmark's own. */
  def moduleOf(callSite: String): String =
    callSite.split('\n').iterator.map(_.trim).collect { case Frame(q) => q.split('.').toSeq }
      .collectFirst {
        case pkg +: cls +: _ if pkg.head.isLower && pkg != "perfbench" =>
          s"$pkg.${cls.takeWhile(_ != '$')}"
        case cls +: _ if cls.head.isUpper => cls.takeWhile(_ != '$')
      }.getOrElse(if (callSite.contains("graft.perfbench")) "perfbench" else "other")

  /** Layer of a module, as named in the per-layer metrics. */
  def layerOf(module: String): String = module match {
    case m if m.startsWith("sink.") => "sink"
    case "ingest.Pipeline" => "pipeline"
    case "ingest.CsvIngest" => "csv"
    case m if m.startsWith("ingest.") => "control"
    case m if m.startsWith("streaming.") => "streaming"
    case m if m.startsWith("operators.") => "operators"
    case m if m.startsWith("queries.") || m.startsWith("functions.") || m == "Tables" => "queries"
    case "perfbench" => "action"
    case _ => "other"
  }
}
