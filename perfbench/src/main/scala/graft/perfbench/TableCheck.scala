package graft.perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sink.UpsertSink

/** Compares the sink table with the generator's model: one row per
  * `(date, client_id)`, the last writer's values, `created_at` inside
  * the step that first wrote the key and `updated_at` inside the step
  * that last wrote it (so `created_at <= updated_at`), `is_active`
  * true. Returns the mismatches found, at most `limit` of them. */
object TableCheck {
  def apply(spark: SparkSession, targetDir: String,
      model: collection.Map[LocalDate, collection.Map[Int, Expect]],
      stepTimes: collection.Map[Int, (Long, Long)], limit: Int = 5): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (bad.size < limit) bad += msg
    val expected = model.valuesIterator.map(_.size.toLong).sum
    val seen = mutable.Map.empty[LocalDate, mutable.BitSet]
    var rows = 0L
    def within(ts: java.sql.Timestamp, step: Int): Boolean = stepTimes.get(step).exists {
      case (a, b) => ts.getTime >= a - 1 && ts.getTime <= b + 1
    }
    new UpsertSink(spark, targetDir).read().toLocalIterator().asScala.foreach { r =>
      rows += 1
      val d = r.getDate(0).toLocalDate
      val id = r.getString(1)
      val c = id.stripPrefix("C").toInt
      model.get(d).flatMap(_.get(c)) match {
        case None => fail(s"unexpected row $d $id")
        case Some(e) =>
          val set = seen.getOrElseUpdate(d, mutable.BitSet.empty)
          if (set.contains(c)) fail(s"duplicate key $d $id")
          set += c
          if (r.getString(2) != s"Client $c" || r.getString(3) != e.serviceName ||
              r.getLong(4) != e.tokens)
            fail(s"value $d $id: got (${r.getString(3)}, ${r.getLong(4)}), " +
              s"want (${e.serviceName}, ${e.tokens})")
          val created = r.getTimestamp(5)
          val updated = r.getTimestamp(6)
          if (!within(created, e.firstStep)) fail(s"created_at $d $id $created not in step ${e.firstStep}")
          if (!within(updated, e.lastStep)) fail(s"updated_at $d $id $updated not in step ${e.lastStep}")
          if (created.after(updated)) fail(s"created_at after updated_at $d $id")
          if (!r.getBoolean(7)) fail(s"is_active false $d $id")
      }
    }
    if (rows != expected) fail(s"table has $rows rows, model $expected")
    bad.toSeq
  }
}
