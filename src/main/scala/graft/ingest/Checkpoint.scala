package graft.ingest

import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.util.StateFs

/** The reference's checkpoint singleton (SURVEY.md §2.1 S5/S8, §2.4
  * A2, §2.10 E5): a tiny control-plane object holding the last
  * processed date as `YYYY_MM_DD` text, plus a JSON audit twin
  * (`src/s3_processor.py:113-158`, `192-210`).
  *
  * Control plane ≠ data plane: this is one value, so it goes through
  * the Hadoop FileSystem API directly (works unchanged on file://,
  * hdfs://, s3a://) — no Spark job for a 10-byte read. The DATA-side
  * equivalent at scale is Structured Streaming's checkpointLocation
  * (see [[graft.streaming.IngestStream]]); this class exists for the
  * batch pipeline and for parity with the reference's observable
  * state.
  */
final class Checkpoint(spark: SparkSession, dir: String, defaultDate: String) {
  private val fmt = DateTimeFormatter.ofPattern("yyyy_MM_dd")
  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val txtPath = new Path(dir, "last_processed_date.txt")
  private val jsonPath = new Path(dir, "last_processed_date_detailed.json")

  def parse(s: String): LocalDate = LocalDate.parse(s.trim, fmt)
  def format(d: LocalDate): String = d.format(fmt)

  /** Read the checkpoint; any failure → the configured default
    * (reference E5: `DEFAULT_DATE` env fallback). */
  def read(): LocalDate =
    try readStrict()
    catch { case _: Exception => parse(defaultDate) }

  /** Read with failures PROPAGATED (absent file still → default —
    * that is genuine first-run state, not a fault). Used by
    * [[advance]]: the E5 catch-all would turn a transient store
    * error into `defaultDate`, letting the guard move the checkpoint
    * BACKWARD — a violated A2 invariant re-processes months. */
  private def readStrict(): LocalDate = {
    if (!fs.exists(txtPath)) return parse(defaultDate)
    val in = fs.open(txtPath)
    try parse(new String(in.readAllBytes(), StandardCharsets.UTF_8))
    finally in.close()
  }

  /** Monotonic write (reference A2: `date_value <= current → skip`,
    * `src/s3_processor.py:122-125`): returns true iff advanced.
    * Also writes the JSON audit twin (`:147-154`). A read fault here
    * propagates (see [[readStrict]]) instead of defaulting. Both files
    * are replaced atomically ([[StateFs.writeFileAtomicFs]]): a crash
    * mid-write leaves the previous checkpoint, never a torn one that
    * [[read]] would turn into `defaultDate`. */
  def advance(candidate: LocalDate): Boolean = {
    val current = readStrict()
    if (!candidate.isAfter(current)) return false
    StateFs.writeFileAtomicFs(fs, txtPath, format(candidate))
    val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
    StateFs.writeFileAtomicFs(fs, jsonPath,
      s"""{
         |  "last_processed_date": "${format(candidate)}",
         |  "updated_at": "${ts}",
         |  "processor": "graft-ingest"
         |}""".stripMargin)
    true
  }
}
