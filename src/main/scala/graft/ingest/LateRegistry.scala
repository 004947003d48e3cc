package graft.ingest

import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.util.StateFs

/** The reference's missing-dates registry (SURVEY.md §2.1 S6/S9,
  * §2.2 P6/P7, §2.3 J1/J2, §2.7 U1/U2, §2.10 E6): dates whose file
  * has not arrived yet, re-probed every run, expired after the
  * late-data horizon, [[Discovery.HorizonDays]]
  * (`src/s3_processor.py:160-188`).
  *
  * E6 fix (SURVEY.md §2.10): the reference removes a found date
  * BEFORE processing succeeds, so a found-but-failed file can fall
  * behind the checkpoint forever. Here `commit` removes only dates
  * that actually processed.
  */
final class LateRegistry(spark: SparkSession, dir: String,
    horizonDays: Int = Discovery.HorizonDays) {
  private val fmt = DateTimeFormatter.ofPattern("yyyy_MM_dd")
  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val path = new Path(dir, "missing_dates.txt")

  /** Read: newline-delimited, blanks dropped (P7), missing file → ∅
    * (the reference's `NoSuchKey → []`). Any other fault — a store
    * error, an unparseable line — PROPAGATES: read as ∅, it would let
    * [[add]]/[[commit]] overwrite the file with only the new dates,
    * silently dropping every registered late date. */
  def read(): Set[LocalDate] = {
    val in =
      try fs.open(path)
      catch { case _: java.io.FileNotFoundException => return Set.empty }
    val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
    body.split("\n").map(_.trim).filter(_.nonEmpty)
      .map(LocalDate.parse(_, fmt)).toSet
  }

  /** U1/J1: register candidate dates not already covered. */
  def add(dates: Set[LocalDate]): Set[LocalDate] = {
    val cur = read()
    write(cur, cur ++ dates)
  }

  /** J2/U2 + P6 + E6 fix: after a successful run, drop processed
    * dates and expire entries older than the horizon relative to
    * `today`. */
  def commit(processed: Set[LocalDate], today: LocalDate): Set[LocalDate] = {
    val horizon = today.minusDays(horizonDays.toLong)
    val cur = read()
    write(cur, (cur -- processed).filter(_.isAfter(horizon)))
  }

  /** Replace the registry `cur` with `dates`, returned. Atomic
    * ([[StateFs.writeFileAtomicFs]]): a crash mid-write leaves the
    * previous registry whole, never a truncated one. An unchanged set
    * writes nothing — the replace costs a file create and rename. */
  private def write(cur: Set[LocalDate], dates: Set[LocalDate]): Set[LocalDate] = {
    if (dates != cur)
      StateFs.writeFileAtomicFs(fs, path, dates.toSeq.sorted.map(_.format(fmt)).mkString("\n"))
    dates
  }
}
