package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.ingest.{Checkpoint, CsvIngest, Discovery, LateRegistry, Pipeline}

/** `ingest_daily`: each step lands one day of consumption CSV (some
  * days late, landing 1 to `maxLateDays` days after their date) and
  * calls `Pipeline.handle` with `today` set to that day. */
final class IngestDaily(spark: SparkSession, a: Args, shape: Shape = Shape.ingestDaily)
    extends Workload {
  import IngestDaily._

  private val root = new File(a.work, "ingest")
  private val prefix = new File(root, "landing")
  private val ckptDir = new File(root, "checkpoint").getAbsolutePath
  private val regDir = new File(root, "registry").getAbsolutePath
  private val target = new File(root, "table").getAbsolutePath
  private val gen = new ConsumptionGen(a.seed, shape, prefix)
  private val defaultDate = ConsumptionGen.baseDate.minusDays(1)

  // model of the control plane
  private var ckpt: Option[LocalDate] = None
  private var registry = Set.empty[LocalDate]
  private val landedFiles = mutable.Map.empty[LocalDate, Int]
  private val lateAt = mutable.Map.empty[Int, Vector[Int]]
  private val stepTimes = mutable.Map.empty[Int, (Long, Long)]
  private var failures = Vector.empty[String]
  private var csvBytes = 0L

  private def cfg(today: LocalDate) = Pipeline.Config(
    prefix = prefix.getAbsolutePath, checkpointDir = ckptDir, registryDir = regDir,
    targetDir = target, defaultDate = defaultDate.format(ConsumptionGen.dirFmt), today = today)

  /** Step ids below zero are the set-up's warm-up days. */
  private def dayOf(i: Int): Int = i + WarmupDays

  def setup(): Unit = (-WarmupDays until 0).foreach { i =>
    if (!step(i, None).ok) failures :+= s"warm-up step $i failed"
  }

  def step(i: Int, tracer: Option[Tracer]): Step = {
    val day = dayOf(i)
    val today = gen.date(day)
    // land: today's files unless the day is late, plus late days due
    // now; warm-up days always land on time, so set-up does warm up
    val late = if (i < 0) 0 else gen.lateness(day)
    if (late > 0) lateAt(day + late) = lateAt.getOrElse(day + late, Vector.empty) :+ day
    val due = (if (late == 0) Vector(day) else Vector.empty) ++ lateAt.remove(day).getOrElse(Vector.empty)
    val landed = due.sorted.flatMap(d => gen.landDay(d, i))
    landed.groupBy(_.date).foreach { case (d, fs) => landedFiles(d) = fs.size }
    csvBytes += landed.map(_.bytes).sum
    tracer.foreach(t => standalone(t, i, today, landed))

    val t0 = Fs.now()
    val resp = Pipeline.handle(spark, cfg(today))
    val t1 = Fs.now()
    stepTimes(i) = (t0, t1)
    val ok = checkStep(i, today, resp)
    Step(i, s"day_${today.format(ConsumptionGen.dirFmt)}", "ingest", t0, t1, ok, tracer.isDefined,
      rows = landed.map(_.rows.toLong).sum, bytes = landed.map(_.bytes).sum)
  }

  /** Read-only layer calls, timed standalone before a traced step: the
    * step itself calls them inside `Pipeline.run`, where they cannot
    * be separated from outside. */
  private def standalone(t: Tracer, i: Int, today: LocalDate, landed: Seq[Landed]): Unit = {
    val (c, late) = t.span(i, "control") {
      (new Checkpoint(spark, ckptDir, defaultDate.format(ConsumptionGen.dirFmt)).read(),
        new LateRegistry(spark, regDir).read())
    }
    t.add(i, "late_registry.dates", late.size)
    val disc = t.span(i, "discovery")(Discovery.discover(spark, prefix.getAbsolutePath, c, today, late))
    t.add(i, "discovery.dates_probed", Discovery.candidateDates(c, today, late).size)
    if (disc.files.nonEmpty) {
      val obs = Observation("kept")
      t.span(i, "csv") {
        CsvIngest.ingestWithProvenance(spark, disc.files.map(_.path))
          .observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      }
      val rowsIn = landed.map(_.rows.toLong).sum
      t.add(i, "model.keys_in", landed.map(_.date).distinct.map(gen.model(_).size).sum)
      t.add(i, "csv.rows_in", rowsIn)
      t.add(i, "csv.rows_kept", obs.get("n").asInstanceOf[Long].toDouble)
    }
  }

  /** The response and checkpoint file against the control-plane model. */
  private def checkStep(i: Int, today: LocalDate, resp: Pipeline.Response): Boolean = {
    val from = ckpt.getOrElse(defaultDate)
    val candidates = Discovery.candidateDates(from, today, registry)
    val (found, missing) = candidates.partition(landedFiles.contains)
    val processed = found.sorted
    val files = processed.flatMap(d => Seq.fill(landedFiles(d))(d))
    landedFiles --= processed
    ckpt = (ckpt.toSeq ++ processed).maxOption
    registry = ((registry ++ missing) -- processed).filter(_.isAfter(today.minusDays(30)))
    val body =
      if (files.isEmpty) J.str("No new files to process")
      else s"""{"message": ${J.str(s"Successfully processed ${files.size} files")}, "processed_dates": """ +
        files.map(d => J.str(d.format(ConsumptionGen.dirFmt))).mkString("[", ", ", "]") + "}"
    val ckptFile = new File(ckptDir, "last_processed_date.txt")
    val ckptGot = if (ckptFile.exists)
      Some(new String(Files.readAllBytes(ckptFile.toPath), StandardCharsets.UTF_8).trim) else None
    val errs = Seq(
      if (resp.statusCode != 200) Some(s"status ${resp.statusCode}: ${resp.body}") else None,
      if (resp.body != body) Some(s"body ${resp.body} != $body") else None,
      if (ckptGot != ckpt.map(_.format(ConsumptionGen.dirFmt))) Some(s"checkpoint $ckptGot != $ckpt")
      else None).flatten
    errs.foreach(e => failures :+= s"step $i: $e")
    errs.isEmpty
  }

  def finish(): Seq[String] =
    failures ++ TableCheck(spark, target, gen.model.map { case (d, m) => d -> m }, stepTimes)

  def layers(t: Tracer, traced: Seq[Step]): Map[String, Double] = {
    val figs = traced.map(t.stepFigures)
    def m(k: String) = Workload.mean(figs, k)
    val outBytes = m("spark.output_bytes")
    val landedBytes = traced.map(_.bytes.toDouble).sum / math.max(1, traced.size)
    Workload.engine(figs) ++ Map(
      "discovery.s" -> m("discovery.s"),
      "discovery.dates_probed" -> m("discovery.dates_probed"),
      "control.s" -> m("control.s"),
      "late_registry.dates" -> m("late_registry.dates"),
      "csv.s" -> m("csv.s"),
      "csv.rows_in" -> m("csv.rows_in"),
      "csv.keep_ratio" -> m("csv.rows_kept") / math.max(1.0, m("csv.rows_in")),
      "csv.step_s" -> m("x.csv.s"),
      "pipeline.s" -> m("x.pipeline.s"),
      "pipeline.driver_gap_s" -> m("driver_gap.s"),
      "sink.s" -> m("x.sink.s"),
      "sink.executions" -> m("x.sink.executions"),
      "sink.bytes_written" -> outBytes,
      "sink.rows_rewritten" -> math.max(0.0, m("spark.output_records") - m("model.keys_in")),
      "sink.write_amp" -> outBytes / math.max(1.0, landedBytes),
      "ingest.rows_per_s" -> Workload.rowsPerS(traced),
      "ingest.unattributed_s" -> (m("x.other.s") + m("x.control.s") + m("x.action.s")))
  }

  override def extras(steps: Seq[Step]): Seq[(String, Double, String)] = Seq(
    ("rows_per_s", Workload.rowsPerS(steps), "rows/s"),
    ("stored_bytes_per_input_byte", Fs.sizeOf(new File(target)).toDouble / math.max(1L, csvBytes),
      "ratio"))
}

object IngestDaily {
  /** Days ingested during set-up: the first `handle` pays JIT and
    * codegen, the second still runs slow. */
  val WarmupDays = 2
}
