package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.streaming.IngestStream

/** `stream_late_upsert`: set-up pre-loads `preloadDays` days through
  * `IngestStream.startUpsert`; each step lands correction files for
  * seeded past dates plus one new day and runs one `AvailableNow`
  * trigger to termination. Corrections rewrite existing partitions,
  * the write path beside the append path of `ingest_daily`. */
final class StreamLateUpsert(spark: SparkSession, a: Args,
    shape: Shape = Shape.streamLateUpsert) extends Workload {
  private val root = new File(a.work, "stream")
  private val prefix = new File(root, "landing")
  private val target = new File(root, "table").getAbsolutePath
  private val ckptDir = new File(root, "checkpoint").getAbsolutePath
  private val gen = new ConsumptionGen(a.seed, shape, prefix)
  private val stepTimes = mutable.Map.empty[Int, (Long, Long)]
  private var failures = Vector.empty[String]
  private var csvBytes = 0L

  /** Run one trigger; returns the input rows it reported, which count
    * every landed row at least once. */
  private def trigger(): Long = {
    val q = IngestStream.startUpsert(spark, prefix.getAbsolutePath, target, ckptDir)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.map(_.numInputRows).sum
  }

  /** Step id 0 is the pre-load, step id 1 (`i = -1`) a warm-up trigger
    * whose first-run costs stay out of the measured steps. */
  def setup(): Unit = {
    val landed = (0 until shape.preloadDays).flatMap(d => gen.landDay(d, 0))
    csvBytes += landed.map(_.bytes).sum
    val t0 = Fs.now()
    val n = trigger()
    stepTimes(0) = (t0, Fs.now())
    if (n < landed.map(_.rows.toLong).sum) failures :+= s"pre-load read $n rows"
    if (!step(-1, None).ok) failures :+= "warm-up trigger failed"
  }

  def step(i: Int, tracer: Option[Tracer]): Step = {
    val id = i + 2
    val newDay = shape.preloadDays + 1 + i
    val r = gen.rng(4, newDay)
    val past = ConsumptionGen.sample(r, math.min(30, newDay), shape.correctionDates).map(k => newDay - 1 - k).sorted
    val landed = past.toSeq.zipWithIndex.map { case (d, k) => gen.landCorrection(d, id, k) } ++
      gen.landDay(newDay, id)
    csvBytes += landed.map(_.bytes).sum
    val keysIn = past.map(d => gen.model(gen.date(d)).count(_._2.lastStep == id)).sum +
      gen.model(gen.date(newDay)).size
    tracer.foreach(_.add(id, "model.keys_in", keysIn))

    val t0 = Fs.now()
    val n = try trigger() catch { case e: Exception => failures :+= s"step $id: $e"; -1L }
    val t1 = Fs.now()
    stepTimes(id) = (t0, t1)
    val rows = landed.map(_.rows.toLong).sum
    // at least: `batch.isEmpty` in the sink re-reads a few rows
    val ok = n >= rows
    if (!ok && n >= 0) failures :+= s"step $id: trigger read $n rows, landed $rows"
    Step(id, s"trigger_$id", "stream", t0, t1, ok, tracer.isDefined, rows = rows,
      bytes = landed.map(_.bytes).sum)
  }

  def finish(): Seq[String] =
    failures ++ TableCheck(spark, target, gen.model.map { case (d, m) => d -> m }, stepTimes)

  def layers(t: Tracer, traced: Seq[Step]): Map[String, Double] = {
    val figs = traced.map { s =>
      val p = t.progressIn(s)
      def d(k: String) = p.map(_.getOrElse(k, 0.0)).sum
      t.stepFigures(s) ++ Map(
        "streaming.add_batch_s" -> d("addBatch"),
        "streaming.get_batch_s" -> d("getBatch"),
        "streaming.planning_s" -> d("queryPlanning"),
        "streaming.wal_commit_s" -> d("walCommit"),
        "streaming.latest_offset_s" -> d("latestOffset"),
        "streaming.commit_offsets_s" -> d("commitOffsets"),
        "streaming.start_stop_s" -> (s.wallS - d("triggerExecution")),
        "streaming.batches" -> p.size.toDouble)
    }
    def m(k: String) = Workload.mean(figs, k)
    val outBytes = m("spark.output_bytes")
    val landedBytes = traced.map(_.bytes.toDouble).sum / math.max(1, traced.size)
    Workload.engine(figs) ++ Seq("streaming.add_batch_s", "streaming.get_batch_s",
      "streaming.planning_s", "streaming.wal_commit_s", "streaming.latest_offset_s",
      "streaming.commit_offsets_s", "streaming.start_stop_s", "streaming.batches")
      .map(k => k -> m(k)).toMap ++ Map(
      "streaming.driver_gap_s" -> m("driver_gap.s"),
      "sink.s" -> m("streaming.add_batch_s"),
      "sink.executions" -> m("nested.executions"),
      "sink.bytes_written" -> outBytes,
      "sink.rows_rewritten" -> math.max(0.0, m("spark.output_records") - m("model.keys_in")),
      "sink.write_amp" -> outBytes / math.max(1.0, landedBytes),
      "ingest.rows_per_s" -> Workload.rowsPerS(traced))
  }

  override def extras(steps: Seq[Step]): Seq[(String, Double, String)] = Seq(
    ("rows_per_s", Workload.rowsPerS(steps), "rows/s"),
    ("stored_bytes_per_input_byte", Fs.sizeOf(new File(target)).toDouble / math.max(1L, csvBytes),
      "ratio"))
}
