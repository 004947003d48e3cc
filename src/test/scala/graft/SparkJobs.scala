package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the Spark jobs and SQL executions a block of code starts,
  * in the order the listener bus delivers them — for tests that bound
  * how many jobs a step runs, and which. */
object SparkJobs {

  sealed trait Event

  /** A job: the SQL execution it ran under (none for Spark's own jobs,
    * such as a parallel file listing) and its description. */
  final case class Job(executionId: Option[Long], description: String) extends Event

  /** A SQL execution; `write` when its plan writes files. */
  final case class Execution(id: Long, write: Boolean) extends Event

  /** Runs `body` and returns its result with every event it started. */
  def record[A](spark: SparkSession)(body: => A): (A, Seq[Event]) = {
    val events = new ConcurrentLinkedQueue[Event]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        events.add(Job(prop("spark.sql.execution.id").map(_.toLong),
          prop("spark.job.description")
            .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("")))
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          events.add(Execution(s.executionId,
            s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")))
          ()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val result =
      try {
        val r = body
        ListenerBusDrain(sc)
        r
      } finally sc.removeSparkListener(listener)
    (result, events.asScala.toSeq)
  }

  def jobs(events: Seq[Event]): Seq[Job] = events.collect { case j: Job => j }
}
