package graft.ingest

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Incremental date-partitioned file discovery (SURVEY.md §2.1 S1-S3,
  * §2.6 O1): candidate dates from checkpoint+1 to `today`, union the
  * late registry, probe `prefix/consumption_YYYY_MM_DD/` per date,
  * keep `*.csv`, ascending date order (so the checkpoint only ever
  * covers a clean prefix — reference `src/s3_processor.py:10-80`).
  *
  * The reference's `MaxKeys=10` listing cap silently truncates >10
  * files/day (SURVEY.md §2.6 O2); deliberately NOT reproduced.
  *
  * At scale, the streaming path replaces all of this with the file
  * source's input log ([[graft.streaming.IngestStream]]), over the
  * directories [[horizonGlob]] names; this batch
  * variant exists for reference parity and for backfills, where the
  * per-date directory probe is exactly a partition-pruned scan.
  */
object Discovery {
  private val fmt = DateTimeFormatter.ofPattern("yyyy_MM_dd")
  private val dirPrefix = "consumption_"

  /** The late-data horizon (reference `src/s3_processor.py:179-180`):
    * a day more than this many days behind the newest is never
    * ingested. [[LateRegistry]] expires its dates by it, the streaming
    * watermarks trail by it, and [[horizonGlob]] bounds the streaming
    * source by it. A bound above 31 days names more than 32
    * directories, past Spark's serial-listing threshold
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`), and
    * brings back the parallel listing job on every trigger. */
  final val HorizonDays = 30

  /** The landing directory of day `d`: `consumption_yyyy_MM_dd`. */
  private def dirName(d: LocalDate): String = dirPrefix + d.format(fmt)

  /** The day a landing directory is named for, if the name is one. */
  private def dateOf(dirName: String): Option[LocalDate] =
    if (!dirName.startsWith(dirPrefix)) None
    else scala.util.Try(LocalDate.parse(dirName.stripPrefix(dirPrefix), fmt)).toOption

  /** The streaming source's path: the landing directories of the newest
    * day N under `prefix` and the [[HorizonDays]] days before it, as one
    * brace glob (`prefix/consumption_{N-30,…,N}`); the plain
    * `prefix/consumption_*` when no dated directory exists. Finding N is
    * one Hadoop FileSystem `globStatus`, no Spark job; reading at most 31
    * directories keeps Spark's file index under its serial-listing
    * threshold, so a trigger lists no more than can still be ingested. */
  def horizonGlob(spark: SparkSession, prefix: String): String = {
    val all = s"$prefix/$dirPrefix*"
    val base = new Path(all)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus may return null rather than an empty array
    val newest = Option(fs.globStatus(base)).toSeq.flatten
      .filter(_.isDirectory).flatMap(st => dateOf(st.getPath.getName)).maxOption
    newest.fold(all) { n =>
      (HorizonDays to 0 by -1).map(k => n.minusDays(k.toLong).format(fmt))
        .mkString(s"$prefix/$dirPrefix{", ",", "}")
    }
  }

  final case class FileInfo(path: String, date: LocalDate, size: Long, lastModified: Long)
  final case class Result(files: Seq[FileInfo], foundDates: Set[LocalDate],
      missingDates: Set[LocalDate])

  def candidateDates(from: LocalDate, to: LocalDate, extra: Set[LocalDate]): Seq[LocalDate] = {
    val range = Iterator.iterate(from.plusDays(1))(_.plusDays(1))
      .takeWhile(!_.isAfter(to)).toSeq
    (range ++ extra).distinct.sorted
  }

  /** Probe each candidate date's directory; a date with no readable
    * CSV goes to `missingDates` (the reference's late registry feed,
    * `src/s3_processor.py:69-72`). */
  def discover(spark: SparkSession, prefix: String, checkpoint: LocalDate,
      today: LocalDate, lateDates: Set[LocalDate]): Result = {
    val base = new Path(prefix)
    val fs: FileSystem = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dates = candidateDates(checkpoint, today, lateDates)
    val files = Seq.newBuilder[FileInfo]
    val found = Set.newBuilder[LocalDate]
    val missing = Set.newBuilder[LocalDate]
    for (d <- dates) {
      val dir = new Path(base, dirName(d))
      // Only a genuinely ABSENT directory means "date missing"; any
      // other listing fault (permissions, transient store error) must
      // PROPAGATE — classifying it as missing would park the date in
      // the late registry, where the 30-day horizon can expire it in
      // the same run: silent permanent data loss.
      val listed =
        try fs.listStatus(dir).toSeq.filter(st =>
          st.isFile && st.getPath.getName.endsWith(".csv"))
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      if (listed.isEmpty) missing += d
      else {
        found += d
        files ++= listed.map(st =>
          FileInfo(st.getPath.toString, d, st.getLen, st.getModificationTime))
      }
    }
    Result(files.result().sortBy(_.date), found.result(), missing.result())
  }
}
