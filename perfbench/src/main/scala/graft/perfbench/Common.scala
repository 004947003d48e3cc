package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Command-line arguments of [[Main]]. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    work: File,
    out: File)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      cores = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      work = new File(need("work")),
      out = new File(need("out")))
  }
}

/** One closed-loop step: one `Pipeline.handle`, one streaming trigger
  * or one query. Times are wall-clock milliseconds, so they share a
  * clock with Spark's listener events. */
final case class Step(
    id: Int,
    name: String,
    family: String,
    startMs: Long,
    endMs: Long,
    ok: Boolean,
    traced: Boolean,
    rows: Long = 0L,
    bytes: Long = 0L,
    buildMs: Long = 0L) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** The session shape of `graft.Bench`: `local[cores]`, shuffle
  * partitions equal to the core count, AQE on. Scratch and warehouse
  * directories live under the run's work directory. */
object Session {
  def start(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(a.work, "tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100.0 * (idx + 1) / s.size, s(idx)))
    }
}

/** Minimal JSON writer for the result and trace files. */
object J {
  def str(s: String): String = graft.util.Json.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def write(f: File, body: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
  }
}

object Fs {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def now(): Long = System.currentTimeMillis()
}
