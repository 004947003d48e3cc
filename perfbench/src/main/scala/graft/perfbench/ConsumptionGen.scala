package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** Shape of the generated consumption feed. Every value here is
  * recorded in `perfbench/README.md`; change both together. */
final case class Shape(
    rowsPerDay: Int,
    filesPerDay: Int,
    clients: Int,
    resendShare: Double,
    lateShare: Double,
    maxLateDays: Int,
    badDateShare: Double,
    badTokenShare: Double,
    correctionDates: Int,
    correctionRows: Int,
    correctionNewShare: Double,
    preloadDays: Int)

object Shape {
  val ingestDaily: Shape = Shape(
    rowsPerDay = 24000, filesPerDay = 4, clients = 40000,
    resendShare = 0.2, lateShare = 0.1, maxLateDays = 10,
    badDateShare = 0.002, badTokenShare = 0.002,
    correctionDates = 0, correctionRows = 0, correctionNewShare = 0.0,
    preloadDays = 0)

  val streamLateUpsert: Shape = Shape(
    rowsPerDay = 2400, filesPerDay = 4, clients = 5000,
    resendShare = 0.2, lateShare = 0.0, maxLateDays = 0,
    badDateShare = 0.002, badTokenShare = 0.002,
    correctionDates = 4, correctionRows = 800, correctionNewShare = 0.1,
    preloadDays = 30)
}

/** One landed CSV file. `rows` counts data rows, bad ones included. */
final case class Landed(path: File, date: LocalDate, rows: Int, bytes: Long)

/** The final value the model expects for one `(date, client_id)`. */
final case class Expect(serviceName: String, tokens: Long, firstStep: Int, lastStep: Int)

/** Seeded generator of the reference's consumption CSV feed plus its
  * model: for every `(date, client_id)` the last writer's value (by
  * file modification time, then path, then position in the file) and
  * the steps that first and last wrote it.
  *
  * Determinism: every random draw comes from a `SplittableRandom`
  * seeded by (seed, purpose, day), so the bytes of a file depend only
  * on the seed and the file's place in the sequence. Modification
  * times are set explicitly from the landing sequence (one second
  * apart from a fixed epoch), so last-writer order is part of the
  * generated input, not of the host's clock. Keys never repeat inside
  * one file: the streaming source cannot order rows within a file. */
final class ConsumptionGen(seed: Long, shape: Shape, prefix: File) {
  import ConsumptionGen._

  private var fileSeq = 0
  /** date -> client -> expected final value */
  val model: mutable.Map[LocalDate, mutable.Map[Int, Expect]] = mutable.Map.empty

  def rng(purpose: Int, day: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + purpose * 7919L + day)

  def date(day: Int): LocalDate = baseDate.plusDays(day.toLong)

  /** Days 1..maxLateDays late, or 0 for a day that lands on time. */
  def lateness(day: Int): Int = {
    val r = rng(1, day)
    if (shape.maxLateDays > 0 && r.nextDouble() < shape.lateShare) 1 + r.nextInt(shape.maxLateDays)
    else 0
  }

  /** Land one day's files: a distinct sample of clients spread over
    * `filesPerDay` files, a share of them re-sent with new values in
    * a later file of the same day. `step` is the step whose run will
    * ingest the day. */
  def landDay(day: Int, step: Int): Seq[Landed] = {
    val r = rng(2, day)
    val keys = (shape.rowsPerDay / (1.0 + shape.resendShare)).toInt
    val clients = sample(r, shape.clients, keys)
    val perFile = Array.fill(shape.filesPerDay)(mutable.ArrayBuffer.empty[Int])
    clients.foreach { c =>
      val f = r.nextInt(shape.filesPerDay)
      perFile(f) += c
      if (f < shape.filesPerDay - 1 && r.nextDouble() < shape.resendShare)
        perFile(f + 1 + r.nextInt(shape.filesPerDay - 1 - f)) += c
    }
    perFile.toSeq.map(cs => writeFile(r, day, shuffle(r, cs.toArray), step))
  }

  /** Land one correction file for a past day: mostly new values for
    * keys the model already holds, a share of new keys. */
  def landCorrection(day: Int, step: Int, salt: Int): Landed = {
    val r = rng(3, day * 1000 + salt)
    val have = model.getOrElse(date(day), mutable.Map.empty).keys.toArray.sorted
    val fresh = math.round(shape.correctionRows * shape.correctionNewShare).toInt
    val old = sample(r, have.length, math.min(have.length, shape.correctionRows - fresh)).map(have(_))
    val known = have.toSet
    val added = mutable.LinkedHashSet.empty[Int]
    var guard = 0
    while (added.size < fresh && guard < fresh * 20) {
      val c = r.nextInt(shape.clients * 2)
      if (!known.contains(c)) added += c
      guard += 1
    }
    writeFile(r, day, shuffle(r, old ++ added), step)
  }

  private def writeFile(r: SplittableRandom, day: Int, clients: Array[Int], step: Int): Landed = {
    val d = date(day)
    val dir = new File(prefix, s"consumption_${d.format(dirFmt)}")
    dir.mkdirs()
    fileSeq += 1
    val f = new File(dir, f"part-$fileSeq%06d.csv")
    val sb = new java.lang.StringBuilder(clients.length * 64)
    sb.append("date,client_id,client_name,service_name,total_consumed_tokens\n")
    val dayModel = model.getOrElseUpdate(d, mutable.Map.empty)
    var rows = 0
    clients.foreach { c =>
      val service = services(r.nextInt(services.length))
      val badToken = r.nextDouble() < shape.badTokenShare
      val tokens = if (badToken) 0L else r.nextLong(1000000L)
      val fmt = r.nextInt(10)
      val ds =
        if (fmt < 6) d.format(monFmt) else if (fmt < 9) d.toString else d.format(slashFmt)
      sb.append(ds).append(',').append(clientId(c)).append(',').append("Client ").append(c)
        .append(',').append(service).append(',')
        .append(if (badToken) "n/a" else tokens.toString).append('\n')
      rows += 1
      val prev = dayModel.get(c)
      dayModel(c) = Expect(service, tokens, prev.map(_.firstStep).getOrElse(step), step)
      if (r.nextDouble() < shape.badDateShare) {
        // an unparseable date: CsvIngest drops the row, the model ignores it
        sb.append("unknown,").append(clientId(c)).append(",Client ").append(c)
          .append(',').append(service).append(",1\n")
        rows += 1
      }
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try out.write(bytes) finally out.close()
    f.setLastModified(epochMs + fileSeq * 1000L)
    Landed(f, d, rows, bytes.length.toLong)
  }
}

object ConsumptionGen {
  val baseDate: LocalDate = LocalDate.of(2025, 3, 1)
  val epochMs: Long = 1740787200000L // 2025-03-01T00:00:00Z
  val dirFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy_MM_dd")
  private val monFmt = DateTimeFormatter.ofPattern("dd-MMM-yy", Locale.US)
  private val slashFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd")
  val services: Array[String] = Array("chat", "embed", "rerank", "vision", "speech")

  def clientId(c: Int): String = f"C$c%06d"

  /** `k` distinct values of [0, n), by a partial Fisher-Yates shuffle. */
  def sample(r: SplittableRandom, n: Int, k: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = 0
    while (i < k) {
      val j = i + r.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    java.util.Arrays.copyOf(a, k)
  }

  def shuffle(r: SplittableRandom, xs: Array[Int]): Array[Int] = {
    val a = xs.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
